"""Table-maintenance operators (sources/sinks.py): keyed MERGE/upsert and
range-sorted (layout-optimized) writes.  Small-file compaction
(index_store.compact_src_partitions) is tested through
compaction.compact_maintained_indexes in tests/test_round10_hardening.py,
the Morton layout in tests/test_zorder.py."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from olap_sus_spark.catalog import load_table
from olap_sus_spark.sources.sinks import merge_upsert, write_sorted
from tests.conftest import SF_DIR


def test_merge_upsert_applies_cdc(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = load_table(spark, SF_DIR, "orders").limit(100).cache()
    base.write.parquet(path)
    keys = [r.o_orderkey for r in base.select("o_orderkey").orderBy("o_orderkey").limit(3).collect()]
    upd_key, del_key, keep_key = keys
    new_key = 999_999_999

    changes = (
        base.filter(F.col("o_orderkey") == upd_key)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("_op", F.lit("upsert"))
        .unionByName(
            base.filter(F.col("o_orderkey") == del_key).withColumn("_op", F.lit("delete"))
        )
        .unionByName(
            base.filter(F.col("o_orderkey") == keep_key)
            .withColumn("o_orderkey", F.lit(new_key))
            .withColumn("_op", F.lit("upsert"))
        )
    )
    merge_upsert(spark, path, changes, ["o_orderkey"])
    got = spark.read.parquet(path)

    assert got.count() == 100  # -1 delete +1 insert
    assert got.filter(F.col("o_orderkey") == del_key).count() == 0
    assert (
        got.filter(F.col("o_orderkey") == upd_key).select("o_orderstatus").first()[0]
        == "X"
    )
    assert got.filter(F.col("o_orderkey") == new_key).count() == 1
    # untouched rows identical
    rest = got.filter(~F.col("o_orderkey").isin(upd_key, del_key, new_key))
    want = base.filter(~F.col("o_orderkey").isin(upd_key, del_key))
    assert sorted(map(tuple, rest.collect())) == sorted(map(tuple, want.collect()))


def test_merge_upsert_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = load_table(spark, SF_DIR, "orders").limit(50)
    base.write.parquet(path)
    changes = base.limit(5).withColumn("o_orderstatus", F.lit("Z")).withColumn(
        "_op", F.lit("upsert")
    )
    merge_upsert(spark, path, changes, ["o_orderkey"])
    once = sorted(map(tuple, spark.read.parquet(path).collect()))
    merge_upsert(spark, path, changes, ["o_orderkey"])
    twice = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert once == twice


def test_write_sorted_produces_tight_disjoint_stats(spark, tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "sorted")
    li = load_table(spark, SF_DIR, "lineitem")
    write_sorted(li, path, ["l_shipdate"], files=4)

    spans = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        idx = md.schema.to_arrow_schema().get_field_index("l_shipdate")
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        spans.append((lo, hi))
    assert len(spans) == 4
    # range partitioning => files cover near-disjoint, ordered value ranges
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {(lo1, hi1)} vs {(lo2, hi2)}"
    # and data survives byte-identical
    assert spark.read.parquet(path).count() == li.count()
