"""Count-Min frequency sketches over the driver tables: an ad-hoc
point-frequency estimate plus a MAINTAINED per-day sketch-partial table
served without touching the facts — the frequency twin of the KMV cube in
queries/sketches.py (same maintained-partials contract from
operators/maintained.py, same "oracle recomputes from raw facts" proof
that maintained == direct).

The maintained table stores, per l_shipdate day, the day's CMS grid rows
(mes_dt, dia, j, slot, cnt) — ≤ depth·width rows per day.  CMS grids are
ADDITIVE (counters sum), so summing day partials by (j, slot) yields
EXACTLY the grid a single pass over the same facts would build; serving a
point-frequency or heavy-hitter query is then arithmetic over
O(days·depth·width) maintained rows plus the candidate DIMENSION —
lineitem is never scanned (plan-pinned).  At 100 TB a daily ingest
refreshes one day's ≤ depth·width-row grid and "how many lineitems did
supplier X ever ship" is served in milliseconds.

Candidates come from the supplier dimension — the legitimate CMS usage:
the sketch answers point queries for keys you can name (dimension members,
a watchlist), it cannot enumerate keys itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table
from olap_sus_spark.operators.cms import (
    CMS_DEPTH,
    cms_build,
    cms_estimate,
    cms_oracle_sql,
)
from olap_sus_spark.operators.maintained import MonthTable, month_range_cond
from olap_sus_spark.registry import register

WIDTH = 1024  # ε = e/width ≈ 0.27% of total weight; depth 4 → δ ≈ 1.8%
_CMS_ALGO_VERSION = "v1"

_CAND_SQL = "SELECT s_suppkey AS k FROM supplier"


# ---------------------------------------------------------------------------
# Ad-hoc estimate: lineitem count per supplier, straight off the facts.


@register(
    "cms_supplier_item_counts",
    oracle=cms_oracle_sql(
        CMS_DEPTH,
        WIDTH,
        "l_suppkey",
        "FROM lineitem WHERE l_suppkey IS NOT NULL",
        _CAND_SQL,
        key_alias="s_suppkey",
        alias="est_items",
    ),
)
def cms_supplier_item_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated lineitem count per supplier from a 4×1024 Count-Min grid,
    probed with the supplier dimension as the candidate set.  The estimate
    is ≥ the exact count by construction and the oracle replays the
    identical grid (same md5 row hashes, same min-over-rows), so the gate
    checks the ESTIMATE bit-for-bit, not a tolerance."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey").isNotNull())
    sketch = cms_build(li, [], "l_suppkey", None, CMS_DEPTH, WIDTH)
    cand = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    return cms_estimate(sketch, cand, "s_suppkey", CMS_DEPTH, WIDTH, "est_items")


# ---------------------------------------------------------------------------
# Maintained per-day grid partials (shared maintained-partials contract).


def _day_partials(
    spark: SparkSession, sf_dir: str, months: list[str] | None = None
) -> DataFrame:
    """Per-day CMS grids (mes_dt, dia, j, slot, cnt) — ≤ depth·width rows
    per day.  ``months`` restricts the scan with plain range predicates on
    l_shipdate so the refresh reaches parquet row-group stats."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey").isNotNull())
    if months is not None:
        li = li.filter(month_range_cond("l_shipdate", months))
    keyed = li.select(
        F.date_format("l_shipdate", "yyyy-MM").alias("mes_dt"),
        F.to_date("l_shipdate").alias("dia"),
        "l_suppkey",
    )
    return cms_build(keyed, ["mes_dt", "dia"], "l_suppkey", None, CMS_DEPTH, WIDTH)


SUPPLIER_CMS = MonthTable("cmssupp", _CMS_ALGO_VERSION, "lineitem", _day_partials)
supplier_cms_path = SUPPLIER_CMS.path
load_or_build_supplier_cms = SUPPLIER_CMS.load_or_build
refresh_supplier_cms = SUPPLIER_CMS.refresh


def _served_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global grid folded from the maintained day partials — additive
    counters, so the sum by (j, slot) IS the single-pass grid."""
    partials = load_or_build_supplier_cms(spark, sf_dir)
    return partials.groupBy("j", "slot").agg(F.sum("cnt").alias("cnt"))


@register(
    "cms_supplier_counts_served",
    oracle=cms_oracle_sql(
        CMS_DEPTH,
        WIDTH,
        "l_suppkey",
        "FROM lineitem WHERE l_suppkey IS NOT NULL",
        _CAND_SQL,
        key_alias="s_suppkey",
        alias="est_items",
    ),
)
def cms_supplier_counts_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier frequency estimates served from the MAINTAINED day
    grids — fold ~days·depth·width tiny rows, probe the supplier dimension,
    never scan lineitem (plan-pinned) — while the oracle rebuilds the grid
    from the raw facts: the bit-match proves sum-of-day-grids == one-pass
    grid (CMS additivity)."""
    cand = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    return cms_estimate(
        _served_sketch(spark, sf_dir), cand, "s_suppkey", CMS_DEPTH, WIDTH, "est_items"
    )


_HH_ORACLE = (
    "WITH est AS ("
    + cms_oracle_sql(
        CMS_DEPTH,
        WIDTH,
        "l_suppkey",
        "FROM lineitem WHERE l_suppkey IS NOT NULL",
        _CAND_SQL,
        key_alias="s_suppkey",
        alias="est_items",
    )
    + """)
SELECT s_suppkey, est_items FROM (
  SELECT s_suppkey, est_items,
         row_number() OVER (ORDER BY est_items DESC, s_suppkey) AS rn
  FROM est) t
WHERE rn <= 5
"""
)


@register("cms_heavy_hitter_suppliers", oracle=_HH_ORACLE)
def cms_heavy_hitter_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 suppliers by ESTIMATED shipped-item count, served entirely
    from the maintained grids + the supplier dimension — the heavy-hitter
    readout (CMS estimates are exact-or-over, so a true heavy hitter can
    never be pushed out by an underestimate; ties broken by key for a
    deterministic cutoff on both engines).  The cutoff is a plain
    order-limit — TakeOrderedAndProject's per-partition partial top-k, not
    a global row_number window funneling the supplier grain to one task."""
    cand = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    est = cms_estimate(
        _served_sketch(spark, sf_dir), cand, "s_suppkey", CMS_DEPTH, WIDTH, "est_items"
    )
    return (
        est.orderBy(F.col("est_items").desc(), F.col("s_suppkey"))
        .limit(5)
        .select("s_suppkey", "est_items")
    )


# ---------------------------------------------------------------------------
# Sliding-window heavy hitters: CMS additivity means the maintained day
# grids re-fold into ANY window, exactly like the KMV cube's trailing fold.

_TRAIL_HH_ORACLE = f"""
WITH src AS (SELECT strftime(l_shipdate, '%Y-%m') AS mes, l_suppkey AS k
             FROM lineitem WHERE l_suppkey IS NOT NULL),
months AS (SELECT DISTINCT mes FROM src),
rows_j AS (SELECT m.mes AS mes_fim, s.k, t.j
           FROM months m JOIN src s
             ON CAST(m.mes || '-01' AS DATE)
                BETWEEN CAST(s.mes || '-01' AS DATE)
                    AND CAST(s.mes || '-01' AS DATE) + INTERVAL 2 MONTH
           CROSS JOIN range(0, {CMS_DEPTH}) t(j)),
sk AS (SELECT mes_fim, j,
              CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 12)) AS BIGINT) % {WIDTH} AS slot,
              COUNT(*) AS cnt
       FROM rows_j GROUP BY 1, 2, 3),
probes AS (SELECT m.mes AS mes_fim, c.k, t.j,
                  CAST(concat('0x', substr(md5(CAST(t.j AS VARCHAR) || ':' || CAST(c.k AS VARCHAR)), 1, 12)) AS BIGINT) % {WIDTH} AS slot
           FROM months m CROSS JOIN ({_CAND_SQL}) c CROSS JOIN range(0, {CMS_DEPTH}) t(j)),
est AS (SELECT p.mes_fim, p.k AS s_suppkey,
               CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est_items
        FROM probes p LEFT JOIN sk
          ON sk.mes_fim = p.mes_fim AND sk.j = p.j AND sk.slot = p.slot
        GROUP BY 1, 2)
SELECT mes_fim, s_suppkey, est_items FROM (
  SELECT mes_fim, s_suppkey, est_items,
         row_number() OVER (PARTITION BY mes_fim
                            ORDER BY est_items DESC, s_suppkey) AS rn
  FROM est) t
WHERE rn <= 3
"""


@register("cms_trailing_quarter_heavy_hitters", oracle=_TRAIL_HH_ORACLE)
def cms_trailing_quarter_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 suppliers by ESTIMATED shipped items in each TRAILING QUARTER
    (window of months m−2..m, one readout per month) — the frequency twin
    of the KMV cube's sliding fold: grids are additive, so the maintained
    day cells re-sum into every window that covers them (explode ×3 over
    the month-grain fold, O(depth·width·months) rows) and the probe joins
    only the supplier DIMENSION — lineitem is never scanned.  Ties break
    by key for a deterministic cutoff on both engines."""
    from pyspark.sql import Window

    from olap_sus_spark.operators.cms import _slot

    from olap_sus_spark.operators.maintained import trailing_month_fold

    partials = load_or_build_supplier_cms(spark, sf_dir)
    mcell = partials.groupBy("mes_dt", "j", "slot").agg(F.sum("cnt").alias("cnt"))
    wsk = (
        trailing_month_fold(mcell, ["j", "slot", "cnt"])
        .groupBy("mes_fim", "j", "slot")
        .agg(F.sum("cnt").alias("cnt"))
    )
    cand = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    probes = (
        mcell.select(F.col("mes_dt").alias("mes_fim"))
        .distinct()
        .coalesce(1)
        .crossJoin(F.broadcast(cand))
        .select(
            "mes_fim",
            "s_suppkey",
            F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("j"),
        )
        .withColumn("slot", _slot("j", "s_suppkey", WIDTH))
    )
    est = (
        probes.join(wsk, ["mes_fim", "j", "slot"], "left")
        .groupBy("mes_fim", "s_suppkey")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_items"))
    )
    w = Window.partitionBy("mes_fim").orderBy(
        F.col("est_items").desc(), F.col("s_suppkey")
    )
    return (
        est.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("mes_fim", "s_suppkey", "est_items")
    )


_JOIN_SIZE_ORACLE = f"""
WITH src AS (SELECT l_suppkey AS k FROM lineitem WHERE l_suppkey IS NOT NULL),
rows_j AS (SELECT k, j FROM src CROSS JOIN range(0, {CMS_DEPTH}) t(j)),
sk AS (SELECT j,
              CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 12)) AS BIGINT) % {WIDTH} AS slot,
              COUNT(*) AS cnt
       FROM rows_j GROUP BY 1, 2),
ip AS (SELECT j, SUM(cnt * cnt) AS ip FROM sk GROUP BY j)
SELECT CAST(MIN(ip) AS BIGINT) AS est_join_rows FROM ip
"""


@register("cms_selfjoin_size_estimate", oracle=_JOIN_SIZE_ORACLE)
def cms_selfjoin_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from the sketch INNER PRODUCT (Alon-Matias-
    Szegedy / Cormode-Muthukrishnan): |R ⋈ S on k| ≈ min_j Σ_slot
    cntR[j,s]·cntS[j,s] — here the lineitem self-join on l_suppkey, i.e.
    Σ freq(s)², the skew statistic an optimizer wants BEFORE committing to
    a shuffle join at 100 TB (a huge estimate says salt the key).  One
    fact pass builds the grid; the estimate is arithmetic over ≤
    depth·width rows, always ≥ the exact size, all-BIGINT — the oracle
    replays it bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey").isNotNull())
    sketch = cms_build(li, [], "l_suppkey", None, CMS_DEPTH, WIDTH)
    return (
        sketch.groupBy("j")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("ip"))
        .agg(F.min("ip").cast("bigint").alias("est_join_rows"))
    )


_MONTHLY_SKEW_ORACLE = f"""
WITH src AS (SELECT strftime(l_shipdate, '%Y-%m') AS mes_dt, l_suppkey AS k
             FROM lineitem WHERE l_suppkey IS NOT NULL),
rows_j AS (SELECT mes_dt, k, j FROM src CROSS JOIN range(0, {CMS_DEPTH}) t(j)),
sk AS (SELECT mes_dt, j,
              CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 12)) AS BIGINT) % {WIDTH} AS slot,
              COUNT(*) AS cnt
       FROM rows_j GROUP BY 1, 2, 3),
ip AS (SELECT mes_dt, j, SUM(cnt * cnt) AS ip FROM sk GROUP BY 1, 2)
SELECT mes_dt, CAST(MIN(ip) AS BIGINT) AS est_join_rows
FROM ip GROUP BY mes_dt
"""


@register("cms_monthly_skew_served", oracle=_MONTHLY_SKEW_ORACLE)
def cms_monthly_skew_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month self-join-size (Σ freq²) TIMELINE served from the
    MAINTAINED day grids — skew-trend monitoring with no fact access:
    fold the cube at month grain (additivity), inner-product each month's
    grid, min over rows.  A month whose estimate jumps is a month whose
    key distribution skewed — the signal that schedules a salting or
    repartitioning change BEFORE the nightly join falls over.  The oracle
    rebuilds every month grid from raw lineitem; the match proves
    sum-of-day-grids inner products == single-pass inner products."""
    partials = load_or_build_supplier_cms(spark, sf_dir)
    mcell = partials.groupBy("mes_dt", "j", "slot").agg(F.sum("cnt").alias("cnt"))
    return (
        mcell.groupBy("mes_dt", "j")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("ip"))
        .groupBy("mes_dt")
        .agg(F.min("ip").cast("bigint").alias("est_join_rows"))
    )
