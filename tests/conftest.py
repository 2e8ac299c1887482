"""Shared fixtures: one local SparkSession per test run, every registered
query's schema and plan built once (``registry_plans``), and a DuckDB oracle
comparator that mirrors the driver's t2 gate (row-count + schema-name +
order-insensitive value comparison)."""

from __future__ import annotations

import io
import math
import os
from contextlib import redirect_stdout

import duckdb
import pytest

from olap_sus_spark.catalog import TABLES
from olap_sus_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("olap_sus_spark-tests")
    yield s


def count_jobs(spark, group: str, build) -> int:
    """Spark jobs ``build()`` runs, counted under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="session")
def registry_plans(spark):
    """name -> (output schema, formatted physical plan) of every registered
    query, built once and shared by the registry-wide gates."""
    import olap_sus_spark.queries  # noqa: F401 — populate registry
    from olap_sus_spark.registry import QUERIES

    out = {}
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF_DIR)
        out[name] = (df.schema, plan_of(df))
    return out


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(rows, columns):
    """Sort columns by name, stringify values canonically, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm_val(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return repr(v)  # shortest round-trip repr — bit-exact compare
        return str(v)

    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def assert_matches_oracle(spark_df, oracle_con, sql):
    """Driver-style compare: row count, column names, value multiset."""
    spark_rows = spark_df.collect()
    spark_cols = spark_df.columns
    rel = oracle_con.execute(sql)
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duckdb={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duckdb={len(duck_rows)}"
    )
    s_norm = _normalize([tuple(r) for r in spark_rows], spark_cols)
    d_norm = _normalize(duck_rows, duck_cols)
    if s_norm != d_norm:
        diffs = [(a, b) for a, b in zip(s_norm, d_norm) if a != b][:5]
        raise AssertionError(f"value mismatch; first diffs: {diffs}")
