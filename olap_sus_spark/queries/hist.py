"""Maintained order-value histogram served without scanning the facts —
the distribution member of the maintained-summary trilogy (distinct =
queries/sketches.py KMV cube, frequency = queries/cms.py CMS grid,
distribution = this day-partitioned histogram), all on the shared
operators/maintained.py contract.

The maintained table stores, per o_orderdate day, the day's fixed-width
bucket counts (mes_dt, dia, balde, n).  Bucket counts are ADDITIVE, so
summing day partials by bucket yields EXACTLY the histogram a single pass
over orders would build; percentile readouts are then a running sum over
the ~|buckets| folded rows.  The bucket rule (floor(o_totalprice/width),
pure double arithmetic) and the percentile rule (smallest bucket whose
cumulative count reaches ceil(p·N/100), pure integer arithmetic) are both
engine-portable, so the DuckDB oracle recomputing from raw orders matches
bit-for-bit — the maintained == recomputed proof.  At 100 TB: "p99 order
value today" costs O(days·buckets) maintained rows, and a daily ingest
refreshes one day's ≤ |buckets|-row partial.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table
from olap_sus_spark.operators.maintained import MonthTable, month_range_cond
from olap_sus_spark.registry import register

BUCKET_WIDTH = 5000.0  # ~120 live buckets over the o_totalprice range
_HIST_ALGO_VERSION = "v1"
_PCTS = [25, 50, 75, 90, 99]


def _day_partials(
    spark: SparkSession, sf_dir: str, months: list[str] | None = None
) -> DataFrame:
    """Per-day bucket counts (mes_dt, dia, balde, n).  ``months`` restricts
    the scan with plain range predicates on o_orderdate so the refresh
    reaches parquet row-group stats."""
    od = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    if months is not None:
        od = od.filter(month_range_cond("o_orderdate", months))
    return (
        od.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("mes_dt"),
            F.to_date("o_orderdate").alias("dia"),
            F.floor(F.col("o_totalprice") / BUCKET_WIDTH).cast("int").alias("balde"),
        )
        .groupBy("mes_dt", "dia", "balde")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORDER_HIST = MonthTable("histord", _HIST_ALGO_VERSION, "orders", _day_partials)
order_hist_path = ORDER_HIST.path
load_or_build_order_hist = ORDER_HIST.load_or_build
refresh_order_hist = ORDER_HIST.refresh


def _folded_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global histogram folded from the maintained day partials."""
    return (
        load_or_build_order_hist(spark, sf_dir)
        .groupBy("balde")
        .agg(F.sum("n").alias("n"))
    )


_HIST_SERVED_ORACLE = f"""
SELECT CAST(FLOOR(o_totalprice / {BUCKET_WIDTH}) AS INT) AS balde,
       CAST(FLOOR(o_totalprice / {BUCKET_WIDTH}) AS INT) * {BUCKET_WIDTH} AS limite_inferior,
       COUNT(*) AS n
FROM orders
WHERE o_totalprice IS NOT NULL
GROUP BY 1, 2
"""


@register("hist_order_value_served", oracle=_HIST_SERVED_ORACLE)
def hist_order_value_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global order-value histogram served from the MAINTAINED day
    partials — a fold over ~days·|buckets| tiny rows, no orders scan
    (plan-pinned) — while the oracle recomputes the buckets from raw
    orders: the match proves bucket-count additivity across days."""
    return _folded_hist(spark, sf_dir).select(
        "balde",
        (F.col("balde") * BUCKET_WIDTH).alias("limite_inferior"),
        "n",
    )


_QUANTILE_ORACLE = f"""
WITH h AS (SELECT CAST(FLOOR(o_totalprice / {BUCKET_WIDTH}) AS INT) AS balde,
                  COUNT(*) AS n
           FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
c AS (SELECT balde, SUM(n) OVER (ORDER BY balde) AS cum FROM h),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM h),
p AS (SELECT CAST(pct AS INT) AS pct FROM (VALUES (25), (50), (75), (90), (99)) t(pct))
SELECT p.pct, MIN(c.balde) AS balde,
       MIN(c.balde) * {BUCKET_WIDTH} AS limite_inferior
FROM p CROSS JOIN tot JOIN c ON c.cum >= (tot.total * p.pct + 99) // 100
GROUP BY p.pct
"""


@register("hist_quantiles_served", oracle=_QUANTILE_ORACLE)
def hist_quantiles_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-resolution percentiles (p25/50/75/90/99 of o_totalprice,
    reported as their bucket's lower bound) served ENTIRELY from the
    maintained partials: fold buckets, one running sum over ~|buckets|
    rows, then for each p the smallest bucket whose cumulative count
    reaches ceil(p·N/100) — all integer arithmetic, replayed bit-for-bit
    by the oracle from raw orders.  The 100 TB shape for dashboard
    percentiles: never a sort, never a fact scan."""
    from pyspark.sql import Window

    hist = _folded_hist(spark, sf_dir)
    # One single-partition window stage computes BOTH the running count and
    # the grand total per bucket row (the frame is ≤ |buckets| rows, so the
    # unpartitioned windows are bounded forever).  The percentile axis is an
    # exploded literal array on the SAME rows — no driver-local literal
    # frame, no join (a 5-row createDataFrame costs seconds of driver round
    # trips per call; the explode is pure codegen).
    w_cum = Window.orderBy("balde").rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.partitionBy()
    c = hist.select(
        "balde",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).cast("bigint").alias("total"),
    )
    return (
        c.select(
            "balde",
            "cum",
            "total",
            F.explode(F.array(*[F.lit(p) for p in _PCTS])).alias("pct"),
        )
        .filter(F.col("cum") >= F.expr("(total * pct + 99) DIV 100"))
        .groupBy("pct")
        .agg(F.min("balde").alias("balde"))
        .select("pct", "balde", (F.col("balde") * BUCKET_WIDTH).alias("limite_inferior"))
    )


_MONTHLY_MEDIAN_ORACLE = f"""
WITH h AS (SELECT strftime(o_orderdate, '%Y-%m') AS mes_dt,
                  CAST(FLOOR(o_totalprice / {BUCKET_WIDTH}) AS INT) AS balde,
                  COUNT(*) AS n
           FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2),
c AS (SELECT mes_dt, balde,
             SUM(n) OVER (PARTITION BY mes_dt ORDER BY balde) AS cum,
             CAST(SUM(n) OVER (PARTITION BY mes_dt) AS BIGINT) AS total
      FROM h)
SELECT mes_dt, MIN(balde) AS balde,
       MIN(balde) * {BUCKET_WIDTH} AS limite_inferior
FROM c WHERE cum >= (total + 1) // 2
GROUP BY mes_dt
"""


@register("hist_monthly_median_served", oracle=_MONTHLY_MEDIAN_ORACLE)
def hist_monthly_median_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median order value PER MONTH (bucket lower bound) from the same
    maintained day partials — the group-wise percentile readout: fold the
    cube at (month, bucket) grain, per-month running counts, smallest
    bucket reaching ceil(N_month/2).  One maintained table thus serves
    global percentiles, per-month medians, and the raw histogram; the
    window partitions by month, so the frame per task is ≤ |buckets| rows
    at any scale.  Oracle recomputes from raw orders."""
    from pyspark.sql import Window

    hist = (
        load_or_build_order_hist(spark, sf_dir)
        .groupBy("mes_dt", "balde")
        .agg(F.sum("n").alias("n"))
    )
    w_cum = (
        Window.partitionBy("mes_dt")
        .orderBy("balde")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("mes_dt")
    c = hist.select(
        "mes_dt",
        "balde",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).cast("bigint").alias("total"),
    )
    return (
        c.filter(F.col("cum") >= F.expr("(total + 1) DIV 2"))
        .groupBy("mes_dt")
        .agg(F.min("balde").alias("balde"))
        .select(
            "mes_dt", "balde", (F.col("balde") * BUCKET_WIDTH).alias("limite_inferior")
        )
    )
