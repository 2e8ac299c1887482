"""Server-side literal construction in ONE py4j round trip.

``F.lit(a_list)`` in classic (non-Connect) PySpark expands CLIENT-side to
``array(*[lit(item) for item in the_list])`` — one py4j round trip per
element plus one per nesting level, exactly the scalar-lit construction
cost it was believed to avoid (r10's "one nested F.lit" rewrite was a
no-op; measured r11: a 64×96 double matrix costs 4–15 s per construction
via ``F.lit(list)``, degrading as the py4j object registry grows, vs
~10–25 ms as a single ``F.expr`` SQL string, registry-independent).

Every helper here renders the values into one SQL literal expression and
makes exactly ONE py4j call (``F.expr``).  Value fidelity:

- doubles are rendered with ``repr()`` (shortest round-trip form) and the
  ``D`` suffix; Java's ``Double.parseDouble`` is correctly rounded, so the
  parsed constant is bit-identical to the Python float (verified by an
  int64-bit-view compare over random magnitudes, ±0.0 and denormals in
  tests/test_r11_optimizations.py).
- ints are rendered as ``L`` (BIGINT) or bare (INT) literals — exact.
- strings are single-quoted with backslash/quote escaping, refused when
  the session parses string literals with escapes kept verbatim.

The resulting unresolved expression tree (``array(...)`` /
``named_struct(...)`` calls over foldable literals) is what the client-side
expansion produced anyway, so analysis, constant folding and execution are
unchanged — only construction cost moves.  That tree still holds one node
per element, though, and every analyzer and optimizer pass over each plan
that contains it walks them all until ConstantFolding collapses it.  For a
dimension-sized lookup (dimCausa's 12,477 codes: 24,954 nodes) that costs
more than construction did; pass such a table as ONE string literal,
``F.from_json(F.lit(json), "map<string,int>")``, which folds to the same
constant (operators/facts.py:build_fact_obitos).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

_INT32_MAX = 2**31 - 1
_INT64_MAX = 2**63 - 1


def sql_double(x: float) -> str:
    """Bit-exact DOUBLE literal.  NaN and the infinities have no numeric
    literal form, so they render as casts of Spark's own spellings (an
    ``ann_mmr_diverse_topk`` cosine over a zero-norm query is NaN)."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x in (float("inf"), float("-inf")):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def sql_bigint(n: int) -> str:
    n = int(n)
    if not -_INT64_MAX - 1 <= n <= _INT64_MAX:
        raise ValueError(f"out of BIGINT range: {n}")
    return f"{n}L"


def sql_int(n: int) -> str:
    n = int(n)
    if not -_INT32_MAX - 1 <= n <= _INT32_MAX:
        raise ValueError(f"out of INT range: {n}")
    return str(n)


_ESCAPED_LITERALS = "spark.sql.parser.escapedStringLiterals"


def sql_string(s: str) -> str:
    """Quoted STRING literal with backslash/quote escaping.  Under
    ``spark.sql.parser.escapedStringLiterals=true`` the parser keeps the
    escapes verbatim, so an escaped string would render to a different
    value: refuse it.  Only a string that needs escaping reads the conf,
    so the common path makes no extra py4j call."""
    s = str(s)
    escaped = s.replace("\\", "\\\\").replace("'", "\\'")
    if escaped != s:
        spark = SparkSession.getActiveSession()
        mode = spark.conf.get(_ESCAPED_LITERALS, "false") if spark else "false"
        if mode.lower() == "true":
            raise ValueError(
                f"cannot render {s!r} as a SQL string literal while "
                f"{_ESCAPED_LITERALS}=true: the parser would keep its escapes"
            )
    return "'" + escaped + "'"


def _array(items: Iterable[str]) -> str:
    body = ",".join(items)
    if not body:
        raise ValueError("empty literal array: element type would be NULL")
    return f"array({body})"


def lit_doubles(xs: Sequence[float]) -> Column:
    """array<double> literal — one py4j call."""
    return F.expr(_array(sql_double(x) for x in xs))


def lit_bigints(xs: Sequence[int]) -> Column:
    """array<bigint> literal — one py4j call."""
    return F.expr(_array(sql_bigint(x) for x in xs))


def lit_strings(xs: Sequence[str]) -> Column:
    """array<string> literal — one py4j call."""
    return F.expr(_array(sql_string(x) for x in xs))


def lit_double_matrix(rows: Sequence[Sequence[float]]) -> Column:
    """array<array<double>> literal — one py4j call (the SRP plane /
    centroid matrix shape)."""
    return F.expr(_array(_array(sql_double(x) for x in r) for r in rows))


# kind tag -> renderer, for inline_rows
_RENDER = {
    "double": sql_double,
    "bigint": sql_bigint,
    "int": sql_int,
    "string": sql_string,
}


def inline_rows(rows: Sequence[tuple], fields: Sequence[tuple[str, str]]) -> Column:
    """``inline(array(named_struct(...), ...))`` generator column for a
    bounded driver-side result — one py4j call instead of
    len(rows)·len(fields) scalar ``F.lit`` round trips.

    ``fields`` is [(name, kind)] with kind in {double, bigint, int,
    string}.  Use over ``spark.range(1).select(...)`` exactly like the
    scalar-lit inline emission it replaces.
    """
    if not rows:
        raise ValueError("inline_rows needs at least one row")
    parts = []
    for row in rows:
        cells = ",".join(
            f"{sql_string(name)},{_RENDER[kind](val)}"
            for (name, kind), val in zip(fields, row, strict=True)
        )
        parts.append(f"named_struct({cells})")
    return F.expr(f"inline(array({','.join(parts)}))")
