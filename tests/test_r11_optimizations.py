"""Focused tests for the round-11 optimization rewrites.

Covers: one-call server-side literals (operators/onecall.py — value
fidelity incl. double bit-exactness and the element-type inference the
old client-side F.lit(list) expansion had), the keep_ge generator filter
(selection-identical to .filter(score >= t), single evaluation of the
score expression in the plan), the NaN-exactness of the threshold-above-
aggregate commutation (refuting ADVICE r10's pre-drop suggestion), and
the explode-both-orientations rewrite of the union-duplicated subtrees.
"""

from __future__ import annotations

import io
import contextlib
import math
import re
import struct as _st

import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tests.conftest import SF_DIR


def _bits(x: float) -> bytes:
    return _st.pack("<d", float(x))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------------------
# one-call literals


def test_onecall_doubles_bit_exact(spark):
    from olap_sus_spark.operators.onecall import lit_double_matrix, lit_doubles

    import random

    rnd = random.Random(7)
    vals = [rnd.uniform(-1, 1) * 10 ** rnd.randint(-12, 12) for _ in range(64)]
    vals += [0.0, -0.0, 1.0, -1.0, 5e-324, 1.7976931348623157e308, 0.1, 2.5e-05]
    vals += [float("nan"), float("inf"), float("-inf")]
    row = spark.range(1).select(lit_doubles(vals).alias("a")).collect()[0]
    assert all(_bits(a) == _bits(v) for a, v in zip(row["a"], vals))

    mat = [vals[i : i + 8] for i in range(0, 64, 8)]
    row = spark.range(1).select(lit_double_matrix(mat).alias("m")).collect()[0]
    for got, want in zip(row["m"], mat):
        assert all(_bits(a) == _bits(v) for a, v in zip(got, want))


def test_onecall_int_and_string_fidelity(spark):
    from olap_sus_spark.operators.onecall import lit_bigints, lit_strings

    big = [0, 1, -1, 2**62, -(2**62), 2**31, 2**31 - 1]
    strs = ["plain", "o'brien", "back\\slash", "tab\tchar", ""]
    df = spark.range(1).select(
        lit_bigints(big).alias("b"),
        lit_strings(strs).alias("s"),
    )
    row = df.collect()[0]
    assert list(row["b"]) == big
    assert list(row["s"]) == strs
    assert dict(df.dtypes)["b"] == "array<bigint>"


def test_onecall_string_refuses_verbatim_escape_parsing(spark):
    """With escapedStringLiterals=true the parser keeps backslash escapes,
    so "o'brien" would render to "o\\'brien": a string that needs
    escaping must raise instead; one that needs none still renders."""
    from olap_sus_spark.operators.onecall import lit_strings, sql_string

    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        assert spark.range(1).select(lit_strings(["plain"])).first()[0] == ["plain"]
        for s in ("o'brien", "back\\slash"):
            with pytest.raises(ValueError, match=key):
                sql_string(s)
    finally:
        spark.conf.unset(key)


def test_onecall_inline_rows_matches_scalar_lit_inline(spark):
    from olap_sus_spark.operators.onecall import inline_rows

    rows = [
        (0, 10, 0.5, -0.0, 1),
        (1, -3, 2.5e-05, float(5e-324), 2),
        (2, 2**40, -1.7976931348623157e308, 123.456, 3),
    ]
    fields = [
        ("query_id", "bigint"),
        ("cand_id", "bigint"),
        ("cosine", "double"),
        ("mmr_score", "double"),
        ("mmr_rank", "int"),
    ]
    got = spark.range(1).select(inline_rows(rows, fields)).collect()
    ref = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(q).cast("bigint").alias("query_id"),
                        F.lit(c).cast("bigint").alias("cand_id"),
                        F.lit(cos).alias("cosine"),
                        F.lit(s).alias("mmr_score"),
                        F.lit(r).cast("int").alias("mmr_rank"),
                    )
                    for q, c, cos, s, r in rows
                ]
            )
        )
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]
    assert all(
        _bits(g["cosine"]) == _bits(r["cosine"])
        and _bits(g["mmr_score"]) == _bits(r["mmr_score"])
        for g, r in zip(got, ref)
    )


# ---------------------------------------------------------------------------
# keep_ge generator filter


def test_keep_ge_equals_filter_incl_nan_and_boundary(spark):
    from olap_sus_spark.operators.dedup import keep_ge

    rows = [
        (1, 2, 0.5),
        (3, 4, 0.3),            # exactly at threshold -> kept
        (5, 6, 0.2999999999999),  # just below -> dropped
        (7, 8, float("nan")),   # NaN-greatest: >= keeps NaN, like filter
        (9, 10, -0.0),
        (11, 12, float("inf")),
    ]
    df = spark.createDataFrame(rows, "id_a bigint, id_b bigint, score double")
    def key(r):
        return (r[0], r[1], "nan" if r[2] != r[2] else r[2])

    got = {key(r) for r in keep_ge(df, "score", 0.3).collect()}
    want = {key(r) for r in df.filter(F.col("score") >= 0.3).collect()}
    assert got == want
    assert {r[0] for r in got} == {1, 3, 7, 11}


def test_keep_ge_rejects_score_not_last(spark):
    """The last-column contract holds under ``python -O`` too: a ValueError
    naming the columns, not an assert."""
    from olap_sus_spark.operators.dedup import keep_ge

    df = spark.createDataFrame([(0.5, 1)], "score double, id_a bigint")
    with pytest.raises(ValueError, match=r"'score'.*\['score', 'id_a'\]"):
        keep_ge(df, "score", 0.3)


def test_keep_ge_single_fold_in_plan(spark):
    """The registered embedding-pair queries must evaluate their 64-dim
    dot fold exactly ONCE per pair: a plain threshold filter gets pushed
    into the join condition and the projection re-evaluates the fold for
    survivors (two `aggregate(zip_with` sites in the plan)."""
    import olap_sus_spark.queries  # noqa: F401
    from olap_sus_spark.registry import QUERIES

    for name in ("dedup_embedding_pairs",):
        p = plan_of(QUERIES[name](spark, SF_DIR))
        folds = len(re.findall(r"aggregate\(zip_with", p))
        assert folds == 1, f"{name}: expected 1 dot fold in plan, saw {folds}"


# ---------------------------------------------------------------------------
# best_by nan_least


def test_best_by_threshold_commutes_under_nan(spark):
    """ADVICE r10 claimed the threshold-above-aggregate rewrite is not
    NaN-safe (a NaN pair would win the argmax and the post-filter would
    drop the key).  The premise is false: Spark's >= uses the SAME
    NaN-greatest total order as its sort (and DuckDB's does too), so the
    pre-filter KEEPS NaN pairs and the pre-filtered window picks the same
    NaN winner the aggregate picks.  Pin that commutation on NaN data —
    and pin the engine premise itself, so an engine that flips to IEEE
    comparison semantics fails here loudly."""
    from olap_sus_spark.operators.similarity import best_by

    nan = float("nan")
    # engine premise: >= keeps NaN (NaN-greatest comparison order)
    kept = (
        spark.createDataFrame([(nan,)], "s double")
        .filter(F.col("s") >= 0.3)
        .count()
    )
    assert kept == 1

    rows = [
        (1, 10, nan), (1, 3, 0.95),    # NaN wins the argmax in BOTH forms
        (2, 7, nan), (2, 8, nan),      # all-NaN key survives the cut (NaN >= t)
        (3, 5, 0.1), (3, 6, nan),      # NaN beats the below-cut finite pair
        (4, 2, 0.4), (4, 9, 0.31),     # plain case
        (5, 1, 0.1), (5, 2, 0.2),      # best below cut -> no row
    ]
    t = 0.3
    df = spark.createDataFrame(rows, "k int, i bigint, s double")

    def key(r):
        return (r[0], r[1], "nan" if r[2] != r[2] else r[2])

    post = {
        key(r)
        for r in best_by(df, ["k"], "s", "i").filter(F.col("s") >= t).collect()
    }
    w = Window.partitionBy("k").orderBy(F.col("s").desc(), F.col("i"))
    pre = {
        key(r)
        for r in df.filter(F.col("s") >= t)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("k", "i", "s")
        .collect()
    }
    assert post == pre
    assert {r[0] for r in post} == {1, 2, 3, 4}
    assert dict((r[0], r[1]) for r in post) == {1: 10, 2: 7, 3: 6, 4: 2}


# ---------------------------------------------------------------------------
# explode-both-orientations (union-duplicated subtree removal)


def test_explode_orientations_equal_union(spark):
    """pagerank/top-copurchase edge emission: one explode generator must
    produce exactly the unionByName(swapped) bag."""
    rows = [(1, 2, 5), (1, 3, 2), (2, 3, 7)]
    pares = spark.createDataFrame(rows, "p1 bigint, p2 bigint, suporte bigint")
    via_union = pares.select(
        F.col("p1").alias("a"), F.col("p2").alias("b"), "suporte"
    ).unionByName(pares.select(F.col("p2").alias("a"), F.col("p1").alias("b"), "suporte"))
    via_explode = pares.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p1").alias("a"), F.col("p2").alias("b"),
                    F.col("suporte").alias("suporte"),
                ),
                F.struct(
                    F.col("p2").alias("a"), F.col("p1").alias("b"),
                    F.col("suporte").alias("suporte"),
                ),
            )
        ).alias("_e")
    ).select("_e.a", "_e.b", "_e.suporte")
    assert sorted(map(tuple, via_union.collect())) == sorted(
        map(tuple, via_explode.collect())
    )
    assert via_union.schema == via_explode.schema
