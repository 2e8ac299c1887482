"""The six named OLAP operations (SURVEY.md §2.11), recast onto the
synthetic star schema per FIXTURES.md's role mapping:

fact = lineitem / orders; geography hierarchy = customer → nation → region;
"occupation family" analog = p_brand; "schooling" analog = c_mktsegment;
"age band" analog = a banded c_acctbal junk dimension (exercising the J4
band join); pivot = year × region matrix; drill-across = orders-fact ⋈
lineitem-fact on (year, nation); top-k per group = top parts per nation.

Reference query texts: /root/reference/queries/queries-scripts.py and
/root/reference/dashboard/app.py:44-178.

Scale notes: every dim join here broadcasts (nation/region/part are small
relative to facts at any scale; part at 100 TB would be bucket-joined
instead — see operators/joins.py).  Aggregations are additive so partial
aggregation happens map-side before the (tiny) shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table
from olap_sus_spark.functions.calendar import month_name_ptbr, month_name_ptbr_sql
from olap_sus_spark.operators.joins import band_label
from olap_sus_spark.queries._util import dec, money_sum
from olap_sus_spark.registry import register

# --------------------------------------------------------------------------
# Banded junk dimension over c_acctbal — the dimDemografia faixa_etaria
# analog (init.sql:494-506): closed bands, an open-ended top band, and an
# 'Ignorado' member matched only by the NULL arm of the band join.
# --------------------------------------------------------------------------
ACCTBAL_BANDS: list[tuple[str, float | None, float | None]] = [
    ("negative", -100000.0, -0.01),
    ("0 a 2499", 0.0, 2499.99),
    ("2500 a 4999", 2500.0, 4999.99),
    ("5000 a 7499", 5000.0, 7499.99),
    ("7500 e mais", 7500.0, None),
    ("Ignorado", None, None),
]


def _bands_values_sql() -> str:
    rows = ", ".join(
        "({}, {}, {})".format(
            f"'{label}'",
            "NULL" if lo is None else repr(lo),
            "NULL" if hi is None else repr(hi),
        )
        for label, lo, hi in ACCTBAL_BANDS
    )
    return f"(VALUES {rows}) AS b(faixa, bal_min, bal_max)"


# --------------------------------------------------------------------------
# 1. ROLL-UP 1 — measure by two mid-hierarchy attributes across two dims
#    (reference: deaths by occupation family × schooling,
#     queries-scripts.py:9-20)
# --------------------------------------------------------------------------
_ROLLUP1_ORACLE = """
SELECT
    p.p_brand AS familia,
    c.c_mktsegment AS escolaridade,
    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY p.p_brand, c.c_mktsegment
"""


@register("rollup_family_schooling", oracle=_ROLLUP1_ORACLE)
def rollup_family_schooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        # part/customer grow linearly with SF — no hard broadcast hint (it
        # cannot degrade to a shuffle join at 100 TB); AQE broadcasts them
        # when they actually fit.  Bounded dims keep explicit hints.
        li.join(
            part.select(F.col("p_partkey").alias("l_partkey"), "p_brand"),
            "l_partkey",
        )
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            cust.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
            "o_custkey",
        )
        .groupBy(F.col("p_brand").alias("familia"), F.col("c_mktsegment").alias("escolaridade"))
        .agg(money_sum("l_extendedprice", "total"))
    )


# --------------------------------------------------------------------------
# 2. ROLL-UP 2 — measure by geography × band-dimension attribute
#    (reference: births by state × mother age band, queries-scripts.py:29-40)
#    Exercises the J4 band join with NULL arm (spark_script_sinasc.py:218-233).
# --------------------------------------------------------------------------
_ROLLUP2_ORACLE = f"""
SELECT
    n.n_name AS estado,
    b.faixa AS faixa_etaria,
    COUNT(*) AS quantidade
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
LEFT JOIN {_bands_values_sql()}
    ON ((c.c_acctbal IS NOT NULL AND c.c_acctbal >= b.bal_min)
        OR (c.c_acctbal IS NULL AND b.bal_min IS NULL))
   AND (b.bal_max IS NULL OR c.c_acctbal <= b.bal_max)
GROUP BY n.n_name, b.faixa
"""


@register("rollup_state_ageband", oracle=_ROLLUP2_ORACLE)
def rollup_state_ageband(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    enriched = (
        orders.join(
            F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey", "c_acctbal")),
            "o_custkey",
        )
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")),
            "c_nationkey",
        )
    )
    # Band-label rewrite (SURVEY.md §7): searched CASE instead of the theta
    # band join — keeps the whole pipeline in one codegen stage with no
    # nested-loop join.  ACCTBAL_BANDS covers the entire c_acctbal domain,
    # so labeling ≡ the oracle's range join (the faithful theta operator is
    # exercised by the dedicated band_join_theta query).
    banded = enriched.withColumn(
        "faixa", band_label(F.col("c_acctbal"), ACCTBAL_BANDS, null_label="Ignorado")
    )
    return banded.groupBy(
        F.col("n_name").alias("estado"), F.col("faixa").alias("faixa_etaria")
    ).agg(F.count(F.lit(1)).alias("quantidade"))


# --------------------------------------------------------------------------
# 3. SLICE & DICE — one geography member, year range, month×year grouping
#    (reference: dashboard/app.py:84-109)
# --------------------------------------------------------------------------
_SD_NATION = "NATION_7"
_SD_Y0, _SD_Y1 = 1996, 1999

_SLICE_DICE_ORACLE = f"""
SELECT
    {month_name_ptbr_sql('o.o_orderdate')} AS mes,
    EXTRACT(YEAR FROM o.o_orderdate)::INT AS ano,
    EXTRACT(MONTH FROM o.o_orderdate)::INT AS numero_mes,
    CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE n.n_name = '{_SD_NATION}'
  AND EXTRACT(YEAR FROM o.o_orderdate) BETWEEN {_SD_Y0} AND {_SD_Y1}
GROUP BY 1, 2, 3
"""


@register("slice_dice_city_years", oracle=_SLICE_DICE_ORACLE)
def slice_dice_city_years(
    spark: SparkSession, sf_dir: str, nation_name: str = _SD_NATION, y0: int = _SD_Y0, y1: int = _SD_Y1
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # Slice: one nation — the dim filter happens BEFORE the join so the
    # broadcast side shrinks to the matching keys (semi-join shape, J12).
    nat_keys = nation.filter(F.col("n_name") == nation_name).select("n_nationkey")
    cust_keys = cust.join(F.broadcast(nat_keys), cust.c_nationkey == nat_keys.n_nationkey).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return (
        orders.filter(F.year("o_orderdate").between(y0, y1))
        .join(cust_keys, "o_custkey")  # customer-derived: linear, AQE decides
        .groupBy(
            month_name_ptbr(F.col("o_orderdate")).alias("mes"),
            F.year("o_orderdate").alias("ano"),
            F.month("o_orderdate").alias("numero_mes"),
        )
        .agg(money_sum("o_totalprice", "total"))
    )


# --------------------------------------------------------------------------
# 4. PIVOT — year × region measure matrix (reference CROSSTAB,
#    queries-scripts.py:76-105; Spark's dynamic pivot replaces the
#    hardcoded 28-column spec).
# --------------------------------------------------------------------------
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_PIVOT_ORACLE = """
SELECT
    EXTRACT(YEAR FROM o.o_orderdate)::INT AS ano,
    {cols}
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY 1
""".format(
    cols=",\n    ".join(
        f"CAST(SUM(CASE WHEN r.r_name = '{reg}' THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS \"{reg}\""
        for reg in _REGIONS
    )
)


@register("pivot_year_by_region", oracle=_PIVOT_ORACLE)
def pivot_year_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    geo = (
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
        .join(F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_regionkey")), "c_nationkey")
        .join(F.broadcast(region.select(F.col("r_regionkey").alias("n_regionkey"), "r_name")), "n_regionkey")
        .select("o_custkey", "r_name")
    )
    pivoted = (
        orders.join(geo, "o_custkey")  # geo is customer-cardinality: no hard hint
        .groupBy(F.year("o_orderdate").alias("ano"))
        .pivot("r_name", _REGIONS)
        .agg(F.sum(dec("o_totalprice")))
    )
    return pivoted.select("ano", *[F.col(f"`{r}`").cast("double").alias(r) for r in _REGIONS])


# --------------------------------------------------------------------------
# 5. DRILL-ACROSS — two fact aggregates joined on conformed dimensions
#    (reference: births-agg ⋈ deaths-agg on (year, municipality),
#     queries-scripts.py:113-146). Facts here: orders (count+revenue) and
#    lineitem (shipped revenue), conformed on (year, nation).
# --------------------------------------------------------------------------
_DA_REGIONS = ("AMERICA", "ASIA")

_DRILL_ACROSS_ORACLE = f"""
WITH geo AS (
    SELECT c.c_custkey, n.n_name
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name IN {_DA_REGIONS!r}
), ord AS (
    SELECT EXTRACT(YEAR FROM o.o_orderdate)::INT AS ano, g.n_name AS nacao,
           COUNT(*) AS quantidade_pedidos
    FROM orders o JOIN geo g ON g.c_custkey = o.o_custkey
    GROUP BY 1, 2
), ship AS (
    SELECT EXTRACT(YEAR FROM l.l_shipdate)::INT AS ano, g.n_name AS nacao,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS receita_enviada
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN geo g ON g.c_custkey = o.o_custkey
    GROUP BY 1, 2
)
SELECT
    COALESCE(ord.ano, ship.ano) AS ano,
    COALESCE(ord.nacao, ship.nacao) AS nacao,
    COALESCE(ord.quantidade_pedidos, 0) AS quantidade_pedidos,
    COALESCE(ship.receita_enviada, 0.0) AS receita_enviada
FROM ord
FULL OUTER JOIN ship ON ord.ano = ship.ano AND ord.nacao = ship.nacao
"""


@register("drill_across_growth", oracle=_DRILL_ACROSS_ORACLE)
def drill_across_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    geo = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.filter(F.col("r_name").isin(*_DA_REGIONS))), nation.n_regionkey == region.r_regionkey)
        .select(F.col("c_custkey"), F.col("n_name"))
    )
    ord_agg = (
        orders.join(geo.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        .groupBy(F.year("o_orderdate").alias("ano"), F.col("n_name").alias("nacao"))
        .agg(F.count(F.lit(1)).alias("quantidade_pedidos"))
    )
    ship_agg = (
        li.join(orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"), "l_orderkey")
        .join(geo.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        .groupBy(F.year("l_shipdate").alias("ano"), F.col("n_name").alias("nacao"))
        .agg(money_sum("l_extendedprice", "receita_enviada"))
    )
    joined = ord_agg.alias("o").join(
        ship_agg.alias("s"),
        (F.col("o.ano") == F.col("s.ano")) & (F.col("o.nacao") == F.col("s.nacao")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("o.ano"), F.col("s.ano")).alias("ano"),
        F.coalesce(F.col("o.nacao"), F.col("s.nacao")).alias("nacao"),
        F.coalesce(F.col("quantidade_pedidos"), F.lit(0)).alias("quantidade_pedidos"),
        F.coalesce(F.col("receita_enviada"), F.lit(0.0)).alias("receita_enviada"),
    )


# --------------------------------------------------------------------------
# 6. TOP-K PER GROUP — ROW_NUMBER window over a grouped SUM
#    (reference: top-10 causes per occupation family, dashboard/app.py:44-68)
#    Tie-break on p_partkey so both engines rank identically.
# --------------------------------------------------------------------------
_TOPK_ORACLE = """
WITH ranked AS (
    SELECT
        n.n_name AS nacao,
        p.p_name AS produto,
        CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY n.n_name
            ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) DESC, p.p_partkey
        ) AS INT) AS ranking
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY n.n_name, p.p_name, p.p_partkey
)
SELECT nacao, produto, total, ranking
FROM ranked
WHERE ranking <= 10
"""


@register("topk_parts_per_nation", oracle=_TOPK_ORACLE)
def topk_parts_per_nation(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    # Aggregate on the *integer* keys only: p_partkey is unique per part and
    # n_name unique per nation, so (s_nationkey, l_partkey) identifies the
    # same groups as the oracle's (n_name, p_name, p_partkey) — but the
    # shuffle carries two ints + a decimal instead of two long strings, and
    # the part/nation name lookups move below the rank filter, where only
    # nations × k rows remain.
    grouped = (
        li.join(
            F.broadcast(supp.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")),
            "l_suppkey",
        )
        .groupBy(F.col("s_nationkey"), F.col("l_partkey"))
        .agg(F.sum(dec("l_extendedprice")).alias("total_dec"))
    )
    w = Window.partitionBy("s_nationkey").orderBy(F.col("total_dec").desc(), F.col("l_partkey"))
    return (
        grouped.withColumn("ranking", F.row_number().over(w))
        .filter(F.col("ranking") <= k)
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("s_nationkey"), "n_name")),
            "s_nationkey",
        )
        .join(
            # the top-k frame (≤ k·25 rows) is the small side here — AQE
            # broadcasts it; a hard hint on linear-growth part would OOM.
            part.select(F.col("p_partkey").alias("l_partkey"), "p_name"),
            "l_partkey",
        )
        .select(
            F.col("n_name").alias("nacao"),
            F.col("p_name").alias("produto"),
            F.col("total_dec").cast("double").alias("total"),
            "ranking",
        )
    )
