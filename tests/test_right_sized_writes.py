"""Right-sized MERGE and compaction writes: a rewrite is narrowed to
as many files as Spark would split a scan of its estimated size into,
instead of one file per task, so small merges stop fragmenting the
table and the maintenance policy stops compacting after each one."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from sqltask_spark.operators import index_fs, merge
from sqltask_spark.operators.index_maintenance import maintain_parquet_table
from sqltask_spark.operators.merge import (
    compact_parquet_table,
    create_parquet_table,
    merge_into_parquet,
    read_parquet_table,
)

@contextlib.contextmanager
def _conf(spark, key, value):
    """``key`` set to ``value`` for the block, restored afterwards."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk_docs(spark, path, n=2000, parts=3):
    df = spark.range(1, n + 1).select(
        F.col("id").alias("k"),
        F.concat(F.lit("doc text "), F.sha2(F.col("id").cast("string"), 256))
        .alias("text"),
    ).repartitionByRange(parts, "k")
    create_parquet_table(df, path, stats_col="k")


def _epoch(spark, n=2000):
    """30 changes spread over the whole key range: 10 inserts, 15
    updates, 5 deletes — every range file is touched."""
    rows = [(n + i, f"new {i}", False) for i in range(1, 11)]
    rows += [(k, f"upd {k}", False) for k in range(7, n, n // 15)][:15]
    rows += [(k, "", True) for k in range(50, n, n // 5)][:5]
    return spark.createDataFrame(rows, "k long, text string, is_del boolean")


def _new_files(spark, path, before):
    return set(index_fs.read_manifest(spark, path)["files"]) - set(before)


def test_small_merge_commits_one_file_and_skips_compaction(spark, tmp_path):
    path = str(tmp_path / "docs")
    _mk_docs(spark, path)
    m0 = index_fs.read_manifest(spark, path)
    assert len(m0["files"]) == 3
    got = merge_into_parquet(
        spark, path, _epoch(spark), ["k"], batch_id="e1", delete_col="is_del"
    )
    assert got["rewritten_files"] == 3
    assert len(_new_files(spark, path, m0["files"])) == 1
    r = maintain_parquet_table(
        spark, path, max_files=spark.sparkContext.defaultParallelism,
        min_mean_file_bytes=64 << 20,
    )
    assert r["compacted"] is False and r["n_files"] == 1


def test_lowered_split_size_writes_several_row_identical_files(
    spark, tmp_path, monkeypatch
):
    """With a small read-split size the merge generation and the
    compaction each write several files, and both read back exactly as
    the unsized formulation (the same writes without narrowing)."""
    sized, plain = str(tmp_path / "sized"), str(tmp_path / "plain")
    with _conf(spark, "spark.sql.files.maxPartitionBytes", "16k"):
        for p in (sized, plain):
            _mk_docs(spark, p)
        m0 = index_fs.read_manifest(spark, sized)
        merge_into_parquet(
            spark, sized, _epoch(spark), ["k"], delete_col="is_del"
        )
        assert len(_new_files(spark, sized, m0["files"])) >= 2
        assert compact_parquet_table(spark, sized) >= 2

        with monkeypatch.context() as mp:
            mp.setattr(merge, "_right_sized", lambda df: df)
            merge_into_parquet(
                spark, plain, _epoch(spark), ["k"], delete_col="is_del"
            )
            compact_parquet_table(spark, plain)
    assert _rows(read_parquet_table(spark, sized)) == _rows(
        read_parquet_table(spark, plain)
    )


def test_unknown_size_estimate_keeps_partitioning(spark):
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize([(i, i) for i in range(60)], 6),
        "a long, b long",
    )
    assert merge._right_sized(rdd_backed) is rdd_backed
    # pruning a column scales the unknown estimate down, not to a size
    per_a = rdd_backed.groupBy("a").count().select("a")
    assert merge._right_sized(per_a) is per_a
    # a relation Catalyst can size, under the open cost: one split
    ranged = spark.range(0, 1000, 1, 6)
    assert merge._right_sized(ranged).rdd.getNumPartitions() == 1


def test_medium_relation_keeps_one_partition_per_slot(spark):
    """Past the open cost and under ``maxPartitionBytes`` per slot, the
    split is ``size / slots``: the write keeps one task per slot, as a
    scan of that size would, instead of narrowing to one task."""
    slots = spark.sparkContext.defaultParallelism
    # 8 bytes per row: 1.92 MB, divisible by any slot count up to 8
    ranged = spark.range(0, 240_000, 1, 4 * slots)
    with _conf(spark, "spark.sql.files.openCostInBytes", "1k"):
        assert merge._right_sized(ranged).rdd.getNumPartitions() == slots
    assert merge._right_sized(ranged).rdd.getNumPartitions() == 1


@pytest.mark.parametrize(
    "uri",
    [
        "file:///tmp/my%20lake/t%C3%A9/data/g000003/part-00001-ab-c000.snappy.parquet",
        "file:/tmp/a%25b/data/g000003/part-00001-ab-c000.snappy.parquet",
        "/tmp/plain/data/g000003/part-00001-ab-c000.snappy.parquet",
    ],
)
def test_rel_of_ignores_encoded_parents(uri):
    assert merge._rel_of(uri) == "g000003/part-00001-ab-c000.snappy.parquet"


def test_merge_matches_files_under_encoded_parent_dirs(spark, tmp_path):
    """Spark reports ``_metadata.file_path`` percent-encoded; touched
    files and per-file stats still resolve to their committed names."""
    path = str(tmp_path / "my lake é" / "docs")
    _mk_docs(spark, path, n=300)
    m0 = index_fs.read_manifest(spark, path)
    src = spark.createDataFrame([(1, "x"), (2, "y")], "k long, text string")
    got = merge_into_parquet(spark, path, src, ["k"])
    assert got["updated"] == 2 and got["rewritten_files"] == 1
    m1 = index_fs.read_manifest(spark, path)
    assert len(set(m0["files"]) & set(m1["files"])) == 2
    assert set(m1["stats"]) == set(m1["files"])
    rows = dict(_rows(read_parquet_table(spark, path)))
    assert len(rows) == 300 and rows[1] == "x" and rows[2] == "y"
