"""Maintained incremental aggregate over the driver tables — the
TPC-H-gateable twin of the warehouse's ``etl.refresh_aggregate`` /
``read_aggregate`` pair (reference recomputes every summary from the full
fact history after each ingest; the engine maintains per-partition partials
and refreshes only the partitions an ingest touched).

The pattern at 100 TB: a daily ingest re-aggregates ONE day's facts and
swaps that day's slice of the partial table in
(idempotent, same contract as the fact sink); serving queries fold the
partials — O(aggregate cardinality), never O(fact history).  Additive
measures use exact types end-to-end (DECIMAL sums + BIGINT counts), so
partial-then-total is bit-identical to a direct recompute no matter how the
rows were grouped — which is precisely what lets the serving query share a
full-recompute DuckDB oracle.

Layout: partials keep DAY grain rows, partitioned by month (84 month
directories instead of ~2500 day directories — same pruning story for the
month-rollup serving path, far fewer tiny files; a real lake with daily
ingest volume would partition by day).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table
from olap_sus_spark.operators.maintained import MonthTable, month_range_cond
from olap_sus_spark.registry import register

_AGG_ALGO_VERSION = "v1"
_MONEY = "decimal(15,2)"


def _partials(spark: SparkSession, sf_dir: str, months: list[str] | None = None) -> DataFrame:
    """Day-grain revenue partials from lineitem: (dia, valor, n) + month
    partition key.  ``months`` (yyyy-MM) restricts the scan via the shared
    pushdown-preserving range predicate (operators/maintained.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    if months is not None:
        li = li.filter(month_range_cond("l_shipdate", months))
    return (
        li.select(
            F.date_format("l_shipdate", "yyyy-MM").alias("mes_dt"),
            F.to_date("l_shipdate").alias("dia"),
            F.col("l_extendedprice").cast(_MONEY).alias("valor"),
        )
        .groupBy("mes_dt", "dia")
        .agg(F.sum("valor").alias("valor"), F.count(F.lit(1)).alias("n"))
    )


# The maintained day-grain revenue partials (operators/maintained.py — this
# family pioneered the contract): refreshed O(day) by month, served
# through a stamp marker whose mismatch triggers the safe full rebuild.
DAILY_REVENUE = MonthTable("dailyrev", _AGG_ALGO_VERSION, "lineitem", _partials)
daily_revenue_path = DAILY_REVENUE.path
load_or_build_daily_revenue = DAILY_REVENUE.load_or_build
refresh_daily_revenue = DAILY_REVENUE.refresh


_INCR_ORACLE = """
SELECT
    CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ano,
    CAST(EXTRACT(MONTH FROM l_shipdate) AS INT) AS mes,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS valor_total,
    CAST(COUNT(*) AS BIGINT) AS n_itens
FROM lineitem
GROUP BY 1, 2
"""


@register("incremental_revenue_by_month", oracle=_INCR_ORACLE)
def incremental_revenue_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month revenue roll-up served from the MAINTAINED day-grain partials —
    O(2500 partial rows), never a lineitem scan — while the oracle
    recomputes from the raw facts: the hash match proves the maintained
    table is exactly equivalent to a full recompute.  Exact-additive
    measures (DECIMAL sum, BIGINT count) make partial-then-total
    bit-identical regardless of grouping order; only the final output view
    casts to double."""
    partials = load_or_build_daily_revenue(spark, sf_dir)
    return (
        partials.groupBy(
            F.year("dia").alias("ano"), F.month("dia").alias("mes")
        )
        .agg(
            F.sum("valor").cast("double").alias("valor_total"),
            F.sum("n").alias("n_itens"),
        )
    )


_TRAILING_REV_ORACLE = """
WITH daily AS (
    SELECT CAST(l_shipdate AS DATE) AS dia,
           SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS v,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1
)
SELECT dia,
       CAST(SUM(v) OVER (ORDER BY dia RANGE BETWEEN INTERVAL 27 DAY PRECEDING
                         AND CURRENT ROW) AS DOUBLE) AS receita_28d,
       CAST(SUM(n) OVER (ORDER BY dia RANGE BETWEEN INTERVAL 27 DAY PRECEDING
                         AND CURRENT ROW) AS BIGINT) AS itens_28d
FROM daily
"""


@register("trailing_28d_revenue_served", oracle=_TRAILING_REV_ORACLE)
def trailing_28d_revenue_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-28-day revenue per day served from the MAINTAINED
    day partials — the exact-aggregate sibling of the sketch families'
    sliding folds: a RANGE window over ~2500 partial rows (gap-safe —
    rangeBetween on the day number, not row offsets) replaces a 28-day
    fact rescan per output day.  DECIMAL sums stay exact through the
    window; the only doubles are the final casts.  The calendar bounds the
    single-partition window frame forever."""
    from pyspark.sql import Window

    partials = load_or_build_daily_revenue(spark, sf_dir)
    daily = partials.select("dia", "valor", "n").withColumn(
        "dia_num", F.unix_date("dia")
    )
    w = Window.orderBy("dia_num").rangeBetween(-27, 0)
    return daily.select(
        "dia",
        F.sum("valor").over(w).cast("double").alias("receita_28d"),
        F.sum("n").over(w).cast("bigint").alias("itens_28d"),
    )


# ---------------------------------------------------------------------------
# Z-order layout serving — a selective 2-D box aggregate probed against the
# MAINTAINED Morton-clustered copy of lineitem (sources/zorder.py).  The
# layout is answer-invariant (the oracle runs the same box on the raw
# table); what it buys is row-group skipping on BOTH box dimensions at
# once, which a single-column sort cannot (tests/test_zorder.py measures
# the touched-row-group ratio from the parquet footers).  At 100 TB the
# z-write happens once per ingested partition at compaction; every
# selective scan after that reads only the intersecting rectangles.
# ---------------------------------------------------------------------------
_ZORDER_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_linhas,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS receita
FROM lineitem
WHERE l_partkey BETWEEN 20 AND 80 AND l_suppkey BETWEEN 2 AND 7
"""


@register("zorder_box_revenue", oracle=_ZORDER_ORACLE)
def zorder_box_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-predicate aggregate over the maintained z-ordered lineitem copy
    (build amortized off the serving path, stamp-marker staleness).  Both
    range predicates push down to the parquet scan, where the Morton
    clustering makes the footer min/max selective in both dimensions.
    The layout is month-partitioned: a dated ingest re-layouts only the
    touched months (refresh_zorder_monthly, O(month))."""
    from olap_sus_spark.sources.zorder import load_or_build_zorder_monthly

    zl = load_or_build_zorder_monthly(
        spark, sf_dir, "lineitem", "l_partkey", "l_suppkey", "l_shipdate"
    )
    return zl.filter(
        F.col("l_partkey").between(20, 80) & F.col("l_suppkey").between(2, 7)
    ).agg(
        F.count(F.lit(1)).alias("n_linhas"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("receita"),
    )


# The same maintained monthly z-layout family applied to the BEHAVIOR fact
# (events): audit/RTBF-shaped probes slice a user-id range crossed with an
# ingest-sequence (event_id) range — a 2-D box no single-column sort can
# serve without touching most row groups.  Proves the family is
# table-generic (any fact + two cluster keys + a date column); events'
# TIMESTAMP(NANOS) quirk rides through catalog.load_table like everywhere
# else.  Measures are integer-exact (count + distinct users) — no float
# reassociation between engines.
_ZORDER_EVENTS_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_eventos,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS usuarios
FROM events
WHERE user_id BETWEEN 10 AND 60 AND event_id BETWEEN 50 AND 5000
"""


@register("zorder_events_box", oracle=_ZORDER_EVENTS_ORACLE)
def zorder_events_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-range × id-range box over the maintained z-ordered events copy
    (month-partitioned on ts, clustered on user_id × event_id)."""
    from olap_sus_spark.sources.zorder import load_or_build_zorder_monthly

    zl = load_or_build_zorder_monthly(
        spark, sf_dir, "events", "user_id", "event_id", "ts"
    )
    return zl.filter(
        F.col("user_id").between(10, 60) & F.col("event_id").between(50, 5000)
    ).agg(
        F.count(F.lit(1)).alias("n_eventos"),
        F.countDistinct("user_id").cast("bigint").alias("usuarios"),
    )
