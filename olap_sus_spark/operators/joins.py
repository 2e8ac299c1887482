"""Join operators: band joins.

The reference's join surface (SURVEY.md §2.3) is: broadcast left equi-joins
of a fact against small dimensions (J1-J3, J6-J9), role-playing dimensions
(the same dim joined twice under different key names, J3), and two *band
joins* (J4/J5) — equality on several attributes plus a range predicate on a
banded measure with NULL↔NULL matching arms
(/root/reference/dags/spark_script_sinasc.py:218-250).

The equi-joins are plain ``join(F.broadcast(dim), ...)`` calls at their
sites; only the band joins need operators.

Band joins get two implementations:

- :func:`band_join` — the faithful theta-join (equalities + range + NULL
  arm).  Because the dim side is broadcast, Catalyst plans a
  BroadcastNestedLoopJoin; correct but O(|fact| x |dim|) per executor —
  fine for a 14k-row dim, wrong at scale.
- :func:`band_label` — the scale path: precompute the band label with a
  searched CASE over the *band table collected to the driver* (tiny by
  definition), then plain broadcast hash equi-join.  This is the rewrite
  SURVEY.md §7 calls for; it keeps the whole pipeline in whole-stage
  codegen and is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_predicate(
    value: Column,
    lo: Column,
    hi: Column,
    null_arm: bool = True,
) -> Column:
    """The J4/J5 range predicate: value in [lo, hi], NULL hi = open end.

    ``null_arm=True`` adds the reference SINASC arm
    (spark_script_sinasc.py:224-227): a NULL value matches exactly the band
    whose lower bound is NULL (the 'Ignorado' member).
    """
    in_range = value.isNotNull() & (value >= lo)
    if null_arm:
        in_range = in_range | (value.isNull() & lo.isNull())
    return in_range & (hi.isNull() | (value <= hi))


def band_join(
    fact: DataFrame,
    band_dim: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    equi: list[tuple[str, str]] | None = None,
    how: str = "left",
    null_arm: bool = True,
) -> DataFrame:
    """Faithful band join (J4/J5): equalities + range + NULL arm.

    ``equi`` is a list of (fact_col, dim_col) equality pairs evaluated
    alongside the band predicate.
    """
    cond = band_predicate(
        fact[value_col], band_dim[lo_col], band_dim[hi_col], null_arm=null_arm
    )
    for f_col, d_col in equi or []:
        cond = cond & (fact[f_col] == band_dim[d_col])
    return fact.join(F.broadcast(band_dim), cond, how)


def band_label(
    value: Column,
    bands: list[tuple[str, float | None, float | None]],
    null_label: str | None = None,
) -> Column:
    """Scale-path band assignment: searched CASE over a driver-side band list.

    ``bands`` is [(label, lo, hi)] with None = open end; the first matching
    band wins (bands are expected to be disjoint).  Produces a label column
    that turns the band join into a broadcast hash equi-join on the label.
    """
    expr = None
    for label, lo, hi in bands:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (value >= F.lit(lo))
        if hi is not None:
            cond = cond & (value <= F.lit(hi))
        cond = value.isNotNull() & cond
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    if null_label is not None:
        expr = expr.when(value.isNull(), null_label)
    return expr
