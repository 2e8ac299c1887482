"""KMV distinct-count sketches over the driver tables: an ad-hoc grouped
estimate plus a MAINTAINED per-day sketch-partial table served without
touching the facts — the sketch twin of queries/incremental.py's revenue
partials (same stamp-marker staleness contract, same O(day) refresh, same
"oracle recomputes from raw facts" proof that maintained == direct).

The maintained table is a SKETCH CUBE at (l_shipdate day, l_returnflag)
grain: each cell stores its k smallest order-key hashes (≤ k rows per
cell).  Because any hash among a coarser group's k smallest is among its
own cell's k smallest, union-merging cells and re-truncating yields
EXACTLY the sketch of ANY roll-up of the stored grain — global, per
month, per flag — and the per-flag sketches further feed the pair
set-algebra (overlap) with no fact access.  Every serving query
hash-matches a DuckDB oracle that recomputes its answer from the raw
facts, which is the maintained == recomputed proof.  At 100 TB: one
≤ |flags|·k-rows-per-day table, refreshed O(day) per ingest, serves the
whole family of distinct-count questions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table
from olap_sus_spark.operators.maintained import MonthTable, month_range_cond
from olap_sus_spark.operators.sketches import (
    HASH_SPACE,
    hash48,
    kmv_estimate,
    kmv_fold,
    kmv_oracle_sql,
    kmv_pair_overlap,
)
from olap_sus_spark.registry import register

K = 256  # RSE ~ 1/sqrt(k-2) ≈ 6.3%
# v2: (day, returnflag) sketch-cube grain.  A version bump changes the
# index directory name, so the previous version's table is simply never
# read again — it lives under the OS temp dir (index_root) and follows its
# lifecycle; no reaper races a concurrent process still serving from it.
_SKETCH_ALGO_VERSION = "v2"

_HASH_SQL = "CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 12)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Ad-hoc grouped estimate: distinct orders per return flag.


@register(
    "kmv_distinct_orders",
    oracle=kmv_oracle_sql(
        K,
        _HASH_SQL,
        "FROM lineitem WHERE l_orderkey IS NOT NULL",
        group_sql=["l_returnflag"],
        alias="est_orders",
    ),
)
def kmv_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct l_orderkey per return flag from a k=256 KMV
    sketch — the estimator branch is live at every gate scale (≥ ~900
    distinct orders per flag even at sf0.001) and the oracle replays the
    identical construction, so the gate checks the ESTIMATE bit-for-bit,
    not a tolerance."""
    li = load_table(spark, sf_dir, "lineitem")
    h = li.filter(F.col("l_orderkey").isNotNull()).select(
        "l_returnflag", hash48("l_orderkey").alias("h")
    )
    return kmv_fold(h, ["l_returnflag"], K).select(
        "l_returnflag", kmv_estimate(K, "est_orders")
    )


# ---------------------------------------------------------------------------
# Maintained per-day sketch partials (stamp-marker contract, O(day) refresh).


def _day_partials(
    spark: SparkSession, sf_dir: str, months: list[str] | None = None
) -> DataFrame:
    """Sketch-cube partials (mes_dt, dia, l_returnflag, h) — ≤ k rows
    per (day, flag) cell.  ``months`` restricts the scan with plain
    range predicates on l_shipdate so the refresh reaches parquet
    row-group stats (the same pushdown-preserving shape as
    incremental._partials)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey").isNotNull())
    if months is not None:
        li = li.filter(month_range_cond("l_shipdate", months))
    h = li.select(
        F.date_format("l_shipdate", "yyyy-MM").alias("mes_dt"),
        F.to_date("l_shipdate").alias("dia"),
        "l_returnflag",
        hash48("l_orderkey").alias("h"),
    )
    return kmv_fold(h, ["mes_dt", "dia", "l_returnflag"], K).select(
        "mes_dt", "dia", "l_returnflag", F.explode("khashes").alias("h")
    )


ORDERKEY_KMV = MonthTable("kmvorders", _SKETCH_ALGO_VERSION, "lineitem", _day_partials)
orderkey_kmv_path = ORDERKEY_KMV.path
load_or_build_orderkey_kmv = ORDERKEY_KMV.load_or_build
refresh_orderkey_kmv = ORDERKEY_KMV.refresh


@register(
    "kmv_distinct_orders_served",
    oracle=kmv_oracle_sql(
        K,
        _HASH_SQL,
        "FROM lineitem WHERE l_orderkey IS NOT NULL",
        alias="est_orders",
    ),
)
def kmv_distinct_orders_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global distinct-order estimate served from the MAINTAINED cube —
    a fold over ~2500·|flags|·k tiny rows, no lineitem scan (plan-pinned)
    — while the oracle recomputes the sketch from the raw facts: the hash
    match proves union-merge-then-retruncate is exactly the global
    sketch."""
    partials = load_or_build_orderkey_kmv(spark, sf_dir)
    return kmv_fold(partials.select("h"), [], K).select(kmv_estimate(K, "est_orders"))


@register(
    "kmv_monthly_distinct_served",
    oracle=kmv_oracle_sql(
        K,
        _HASH_SQL,
        "FROM (SELECT strftime(l_shipdate, '%Y-%m') AS mes_dt, l_orderkey"
        "      FROM lineitem WHERE l_orderkey IS NOT NULL) t",
        group_sql=["mes_dt"],
        alias="est_orders",
    ),
)
def kmv_monthly_distinct_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-orders-per-month TIME SERIES from the same maintained day
    partials: fold day sketches at month grain (any hash among a month's k
    smallest is among its own day's k smallest, so the month fold over
    partials IS the month sketch) while the oracle re-sketches each month
    from raw facts.  One partial table thus serves every grain coarser
    than day — the sketch analogue of a roll-up-able cube.  At driver gate
    scales months are under-full (exact branch, which still proves the
    merge); the estimator branch goes live at sf0.1+ (~1800 orders/mo)."""
    partials = load_or_build_orderkey_kmv(spark, sf_dir)
    return kmv_fold(partials.select("mes_dt", "h"), ["mes_dt"], K).select(
        "mes_dt", kmv_estimate(K, "est_orders")
    )


# ---------------------------------------------------------------------------
# Sketch set algebra: pairwise segment overlap from per-segment sketches.

_NUM = (K - 1) * HASH_SPACE

_SEG_OVERLAP_ORACLE = f"""
WITH h AS (SELECT DISTINCT l_returnflag AS seg, {_HASH_SQL} AS h
           FROM lineitem WHERE l_orderkey IS NOT NULL),
r AS (SELECT seg, h, row_number() OVER (PARTITION BY seg ORDER BY h) AS rn FROM h),
sk AS (SELECT seg, h FROM r WHERE rn <= {K}),
e AS (SELECT seg, CAST(CASE WHEN COUNT(*) < {K} THEN COUNT(*)
                 ELSE {_NUM} // NULLIF(MAX(CASE WHEN rn = {K} THEN h END), 0)
            END AS BIGINT) AS est
      FROM r WHERE rn <= {K} GROUP BY seg),
segs AS (SELECT DISTINCT seg FROM sk),
pairs AS (SELECT a.seg AS seg_a, b.seg AS seg_b
          FROM segs a JOIN segs b ON a.seg < b.seg),
uh AS (SELECT p.seg_a, p.seg_b, s.h,
              BOOL_OR(s.seg = p.seg_a) AS in_a, BOOL_OR(s.seg = p.seg_b) AS in_b
       FROM pairs p JOIN sk s ON s.seg IN (p.seg_a, p.seg_b)
       GROUP BY p.seg_a, p.seg_b, s.h),
ur AS (SELECT seg_a, seg_b, h, in_a, in_b,
              row_number() OVER (PARTITION BY seg_a, seg_b ORDER BY h) AS rn
       FROM uh),
m AS (SELECT seg_a, seg_b, COUNT(*) AS n,
             MAX(CASE WHEN rn = {K} THEN h END) AS hk,
             CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS p
      FROM ur WHERE rn <= {K} GROUP BY seg_a, seg_b),
mu AS (SELECT seg_a, seg_b, n, p,
              CAST(CASE WHEN n < {K} THEN n ELSE {_NUM} // NULLIF(hk, 0)
                   END AS BIGINT) AS est_union
       FROM m)
SELECT mu.seg_a, mu.seg_b, ea.est AS est_a, eb.est AS est_b, mu.est_union,
       CAST(CASE WHEN mu.n < {K} THEN mu.p
            ELSE mu.p * mu.est_union // {K} END AS BIGINT) AS est_inter
FROM mu
JOIN e ea ON ea.seg = mu.seg_a
JOIN e eb ON eb.seg = mu.seg_b
"""


@register(
    "kmv_flag_distinct_served",
    oracle=kmv_oracle_sql(
        K,
        _HASH_SQL,
        "FROM lineitem WHERE l_orderkey IS NOT NULL",
        group_sql=["l_returnflag"],
        alias="est_orders",
    ),
)
def kmv_flag_distinct_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag distinct-order estimates served from the maintained
    sketch cube — fold the (day, flag) cells at flag grain, never touching
    lineitem — while the oracle (identical to the ad-hoc
    ``kmv_distinct_orders``) re-sketches from the raw facts.  The hash
    match proves the cube rolls up along the OTHER axis too: day cells
    collapse to the exact per-flag sketch, the same way the month/global
    queries collapse the flag axis."""
    partials = load_or_build_orderkey_kmv(spark, sf_dir)
    return kmv_fold(partials.select("l_returnflag", "h"), ["l_returnflag"], K).select(
        "l_returnflag", kmv_estimate(K, "est_orders")
    )


@register("kmv_segment_overlap_served", oracle=_SEG_OVERLAP_ORACLE)
def kmv_segment_overlap_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same pairwise flag overlap as ``kmv_segment_overlap`` but with
    the per-segment sketches folded from the MAINTAINED cube instead of a
    fact pass — the oracle still recomputes everything from raw lineitem,
    so the bit-match proves serve-from-partials == recompute for the set
    algebra as well.  At 100 TB this turns "how much do segments overlap"
    from a fact self-join into arithmetic over |flags|·k maintained rows."""
    partials = load_or_build_orderkey_kmv(spark, sf_dir)
    sk = kmv_fold(
        partials.select(F.col("l_returnflag").alias("seg"), "h"), ["seg"], K
    )
    return kmv_pair_overlap(sk, "seg", K)


@register("kmv_segment_overlap", oracle=_SEG_OVERLAP_ORACLE)
def kmv_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-order overlap between every pair of return flags — |A|,
    |B|, |A\u222aB|, |A\u2229B| — computed ENTIRELY from the per-segment KMV
    sketches (operators.sketches.kmv_pair_overlap).  One fact pass builds
    all sketches; the pair algebra touches |segments| arrays of \u2264 k
    BIGINTs — where the exact answer would self-join the facts per pair.
    All arithmetic stays integer, so the DuckDB twin replays it
    bit-for-bit; under-full merges degrade to EXACT set counts by
    construction."""
    li = load_table(spark, sf_dir, "lineitem")
    h = li.filter(F.col("l_orderkey").isNotNull()).select(
        F.col("l_returnflag").alias("seg"), hash48("l_orderkey").alias("h")
    )
    return kmv_pair_overlap(kmv_fold(h, ["seg"], K), "seg", K)


# ---------------------------------------------------------------------------
# Sliding-window distinct counts from the same cube: mergeability means the
# maintained day cells re-fold into ANY window, not just disjoint roll-ups.

_TRAILING_ORACLE = f"""
WITH h AS (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS mes, {_HASH_SQL} AS h
           FROM lineitem WHERE l_orderkey IS NOT NULL),
months AS (SELECT DISTINCT mes FROM h),
exp AS (SELECT DISTINCT m.mes AS mes_fim, x.h
        FROM months m JOIN h x
          ON CAST(m.mes || '-01' AS DATE)
             BETWEEN CAST(x.mes || '-01' AS DATE)
                 AND CAST(x.mes || '-01' AS DATE) + INTERVAL 2 MONTH),
r AS (SELECT mes_fim, h,
             row_number() OVER (PARTITION BY mes_fim ORDER BY h) AS rn
      FROM exp),
s AS (SELECT mes_fim, COUNT(*) AS n,
             MAX(CASE WHEN rn = {K} THEN h END) AS hk
      FROM r WHERE rn <= {K} GROUP BY mes_fim)
SELECT mes_fim, CAST(CASE WHEN n < {K} THEN n
                     ELSE {(K - 1) * HASH_SPACE} // NULLIF(hk, 0)
                END AS BIGINT) AS est_orders
FROM s
"""


@register("kmv_trailing_quarter_distinct_served", oracle=_TRAILING_ORACLE)
def kmv_trailing_quarter_distinct_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct orders in the TRAILING QUARTER (window of months m−2..m,
    one row per month) served from the maintained cube — the sliding-
    window payoff of sketch mergeability: each day cell re-folds into
    every window that covers it (explode ×3, still O(cells) rows, no fact
    scan), where an exact answer would rescan three months of facts per
    window.  Windows at the series start simply cover fewer months — same
    rule on both sides — and the estimator is LIVE at the driver gate
    scale (~540 distinct orders per window at sf0.01 > k).  The oracle
    re-sketches every window from raw lineitem; the hash match proves
    window-fold == direct window sketch."""
    from olap_sus_spark.operators.maintained import trailing_month_fold

    partials = load_or_build_orderkey_kmv(spark, sf_dir)
    exp = trailing_month_fold(partials, ["h"])
    return kmv_fold(exp, ["mes_fim"], K).select(
        "mes_fim", kmv_estimate(K, "est_orders")
    )


# ---------------------------------------------------------------------------
# Active-user sketch cube over events: ONE maintained per-day user-sketch
# table serves DAU / WAU / MAU for every day — the product-analytics trio
# that normally costs a distinct-count scan per (day, window).

_USER_HASH_SQL = (
    "CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)"
)
_AU_WINDOWS = [1, 7, 28]


def _user_day_partials(
    spark: SparkSession, sf_dir: str, months: list[str] | None = None
) -> DataFrame:
    """Per-day k-min user-hash cells (mes_dt, dia, h) over events."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    if months is not None:
        ev = ev.filter(month_range_cond("ts", months))
    h = ev.select(
        F.date_format("ts", "yyyy-MM").alias("mes_dt"),
        F.to_date("ts").alias("dia"),
        hash48("user_id").alias("h"),
    )
    return kmv_fold(h, ["mes_dt", "dia"], K).select(
        "mes_dt", "dia", F.explode("khashes").alias("h")
    )


USER_KMV = MonthTable("kmvusers", _SKETCH_ALGO_VERSION, "events", _user_day_partials)
user_kmv_path = USER_KMV.path
load_or_build_user_kmv = USER_KMV.load_or_build
refresh_user_kmv = USER_KMV.refresh


_ACTIVE_USERS_ORACLE = f"""
WITH h AS (SELECT DISTINCT CAST(ts AS DATE) AS dia, {_USER_HASH_SQL} AS h
           FROM events WHERE user_id IS NOT NULL),
days AS (SELECT DISTINCT dia FROM h),
w AS (SELECT CAST(win AS INT) AS win FROM (VALUES (1), (7), (28)) t(win)),
exp AS (SELECT DISTINCT d.dia AS dia_fim, w.win, x.h
        FROM days d CROSS JOIN w JOIN h x
          ON date_diff('day', x.dia, d.dia) BETWEEN 0 AND w.win - 1),
r AS (SELECT dia_fim, win, h,
             row_number() OVER (PARTITION BY dia_fim, win ORDER BY h) AS rn
      FROM exp),
s AS (SELECT dia_fim, win, COUNT(*) AS n,
             MAX(CASE WHEN rn = {K} THEN h END) AS hk
      FROM r WHERE rn <= {K} GROUP BY 1, 2)
SELECT dia_fim, win, CAST(CASE WHEN n < {K} THEN n
                          ELSE {(K - 1) * HASH_SPACE} // NULLIF(hk, 0)
                     END AS BIGINT) AS est_users
FROM s
"""


@register("kmv_active_users_served", oracle=_ACTIVE_USERS_ORACLE)
def kmv_active_users_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU per day (trailing 1/7/28-day distinct users) served
    from ONE maintained per-day user-sketch table — each day cell re-folds
    into every window covering it (explode ≤ 36 rows per cell, never an
    event scan), where exact answers cost a distinct-scan per (day,
    window).  The estimator is live at sf0.1 (1356 users/day > k); the
    gate scales exercise the exact branch, which still proves the window
    merges.  The oracle re-sketches every (day, window) from raw events."""
    partials = load_or_build_user_kmv(spark, sf_dir)
    days = partials.select(F.col("dia").alias("dia_fim")).distinct()
    exp = (
        partials.select(
            "h",
            "dia",
            F.explode(F.array(*[F.lit(w) for w in _AU_WINDOWS])).alias("win"),
        )
        .select(
            "h", "win", F.explode(F.expr("sequence(0, win - 1)")).alias("off"), "dia"
        )
        .select("h", "win", F.expr("date_add(dia, off)").alias("dia_fim"))
        .join(F.broadcast(days), "dia_fim")
    )
    return kmv_fold(exp, ["dia_fim", "win"], K).select(
        "dia_fim", "win", kmv_estimate(K, "est_users")
    )
