"""Storage-layout maintenance (ops/storage.py): compaction swap
semantics + content preservation, and z-order files-touched locality.
Filesystem ops — pytest-verified (no SQL oracle by design).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smartglass_ocr_spark.ops.storage import (
    compact_parquet,
    table_file_stats,
    zorder_write,
)


def _files_touched(spark, path, pred):
    return (
        spark.read.parquet(path)
        .filter(pred)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )


def test_compact_unpartitioned_preserves_content(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") * 7 % 97).alias("v")
    )
    df.repartition(37).write.parquet(path)
    assert table_file_stats(spark, path)["n_files"] == 37
    stats = compact_parquet(spark, path, target_bytes=1 << 30)
    assert stats["before"]["n_files"] == 37
    assert stats["after"]["n_files"] == 1
    out = spark.read.parquet(path)
    assert sorted((r["id"], r["v"]) for r in out.collect()) == [
        (i, i * 7 % 97) for i in range(10_000)
    ]
    # leftovers cleaned up
    assert not (tmp_path / "t__compact_tmp").exists()
    assert not (tmp_path / "t__compact_old").exists()


def test_compact_partitioned_one_file_per_key(spark, tmp_path):
    path = str(tmp_path / "p")
    df = spark.range(2_000).select(
        F.col("id"), (F.col("id") % 4).alias("p")
    )
    df.repartition(10).write.partitionBy("p").parquet(path)
    assert table_file_stats(spark, path)["n_files"] > 4
    compact_parquet(spark, path, partition_cols=("p",))
    assert table_file_stats(spark, path)["n_files"] == 4
    out = spark.read.parquet(path)
    assert out.count() == 2_000
    # partition pruning still applies after the rewrite
    plan = (
        out.filter(F.col("p") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(p" in plan, plan
    assert out.filter(F.col("p") == 2).count() == 500


def test_zorder_files_touched_locality(spark, tmp_path):
    """Box predicates on the clustered columns touch ~1 file; each
    single-dimension slice touches a strict subset of the files a
    round-robin layout spreads it across."""
    grid = spark.range(10_000).select(
        (F.col("id") % 100).alias("x"),
        ((F.col("id") / 100).cast("long") % 100).alias("y"),
    )
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    grid.repartition(8).write.parquet(plain)
    zorder_write(grid, ("x", "y"), zed, bits=4, n_files=8)
    assert spark.read.parquet(zed).count() == 10_000

    box = (F.col("x") < 5) & (F.col("y") < 5)
    assert _files_touched(spark, plain, box) >= 6  # round-robin: everywhere
    assert _files_touched(spark, zed, box) <= 2

    for one_dim in (F.col("x") < 5, F.col("y") < 5):
        assert _files_touched(spark, zed, one_dim) <= 5
        assert _files_touched(spark, plain, one_dim) == 8

    with pytest.raises(ValueError):
        zorder_write(grid, (), zed)


def test_bucketed_tables_join_exchange_free(spark, tmp_path):
    """Two tables bucketed on the same key join with ZERO Exchange —
    the co-located-join property the operator exists for; the same
    join on plain parquet twins shows the shuffle it deletes."""
    from smartglass_ocr_spark.sources import write_bucketed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    meta = docs.select("doc_id", F.length("text").alias("n"))
    write_bucketed(docs, "t_docs_b", "doc_id", buckets=4)
    write_bucketed(meta, "t_meta_b", "doc_id", buckets=4)
    # disable broadcast throughout: BOTH joins must take the
    # SortMergeJoin shape so the comparison isolates the exchange
    # (with broadcast on, a small build side would hide the shuffle
    # and make the bucketed assertion vacuous)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_docs_b").join(spark.table("t_meta_b"), "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == docs.count()

        # control: the identical join on unbucketed twins shuffles
        p1, p2 = str(tmp_path / "d"), str(tmp_path / "m")
        docs.write.parquet(p1)
        meta.write.parquet(p2)
        ctrl = spark.read.parquet(p1).join(spark.read.parquet(p2), "doc_id")
        cplan = ctrl._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in cplan, cplan
        assert "Exchange hashpartitioning" in cplan, cplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_meta_b")
