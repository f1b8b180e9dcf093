"""One driver round trip per small CDC epoch.

- The sink collects a small epoch ONCE, as a local relation: the
  content fingerprint and everything MERGE derives from the source
  run no Spark job, so an epoch runs the collect, MERGE's hit scan and
  its write, and nothing else.
- MERGE groups the source's keys on the driver with Spark's grouping
  equality; its counts, its table state and its duplicate-key errors
  equal the join arm's and the aggregate arm's.
- A write that fixes one output partition observes its file's stats
  instead of reading the file back, with entries identical to the
  read-back aggregate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame
from sqltask_spark.operators import index_fs
from sqltask_spark.operators.merge import (
    TableStore,
    _rel_of,
    create_parquet_table,
    merge_into_parquet,
    read_parquet_table,
)
from sqltask_spark.streaming.tables import merge_upsert_sink

EPOCH = "k long, v string, is_del boolean"


def _table(spark, path, n=200):
    base = spark.range(0, n).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id").cast("string")).alias("v")
    )
    create_parquet_table(base.repartitionByRange(2, "k"), path, stats_col="k")


# -- job pins ------------------------------------------------------------------


def test_small_epoch_runs_the_collect_the_hit_scan_and_the_write(spark, tmp_path, jobs):
    path = str(tmp_path / "t")
    _table(spark, path)
    # one partition, so the sink's bounded collect is one job
    epoch = spark.range(195, 205, numPartitions=1).select(
        F.col("id").alias("k"),
        F.concat(F.lit("new"), F.col("id").cast("string")).alias("v"),
        (F.col("id") == 196).alias("is_del"),
        F.lit(0).alias("op_ts"),
    )
    sink = merge_upsert_sink(path, ["k"], delete_col="is_del", app_id="pin")
    with jobs() as applied:
        sink(epoch, 0)
    # the sink's collect, MERGE's hit scan and MERGE's write
    assert applied.n == 3
    # a redelivery pays the collect; the ledger skips the merge
    seq = index_fs.read_manifest(spark, path)["_seq"]
    with jobs() as redelivered:
        sink(epoch, 0)
    assert redelivered.n == 1
    assert index_fs.read_manifest(spark, path)["_seq"] == seq
    got = dict(read_parquet_table(spark, path).select("k", "v").collect())
    assert 196 not in got and got[195] == "new195" and got[204] == "new204"
    assert len(got) == 199 + 5


def test_merge_of_a_local_source_runs_no_job_before_its_hit_scan(spark, tmp_path, jobs):
    path = str(tmp_path / "t")
    _table(spark, path)
    src = local_frame(spark, [(5, "a", False), (150, None, True), (500, "c", False)], EPOCH)
    with jobs() as merged:
        out = merge_into_parquet(spark, path, src, ["k"], delete_col="is_del")
    assert merged.n == 2  # the hit scan and the write
    assert (out["inserted"], out["updated"], out["deleted"]) == (1, 1, 1)
    # every file stats-pruned: no hit scan either, only the write
    far = local_frame(spark, [(10_000, "far", False)], EPOCH)
    with jobs() as pruned:
        out = merge_into_parquet(spark, path, far, ["k"], delete_col="is_del")
    assert pruned.n == 1
    assert out["stats_pruned_files"] == out["total_files"] - 1


# -- observed stats ------------------------------------------------------------


def _bit63_long(spark):
    """A long key one of whose filter positions is bit 63 of its word."""
    p0, p1 = index_fs.filter_pos_cols("id")
    return (
        spark.range(0, 5000)
        .select("id", p0.alias("p0"), p1.alias("p1"))
        .filter((F.col("p0") % 64 == 63) | (F.col("p1") % 64 == 63))
        .first()["id"]
    )


def _observed_and_read_back(spark, tmp_path, ddl, rows, jobs):
    path = str(tmp_path / "t")
    seed = local_frame(spark, [r for r in rows if r[0] is not None][:1], ddl)
    create_parquet_table(seed, path, stats_col="k")
    store = TableStore(spark, path)
    m = store.committed()
    with jobs() as wrote:
        files, stats = store.write_files(m, local_frame(spark, rows, ddl).coalesce(1))
    assert wrote.n == 1 and len(files) == 1
    read_back = index_fs._stats_agg(
        store.read(m, files).select(F.col("_metadata.file_path").alias("__file"), "k"),
        "k",
        by="__file",
    )
    want = {
        _rel_of(uri): [st["min_id"], st["max_id"]]
        + ([st["filter"]["words"]] if "filter" in st else [])
        for uri, st in read_back.items()
        if st
    }
    return stats, want


@pytest.mark.parametrize("case", ["long", "string", "null_key", "bit63", "all_null"])
def test_observed_stats_equal_the_read_back_aggregate(spark, tmp_path, jobs, case):
    if case == "long":
        ddl, rows = "k long, v string", [(k * 37, "x") for k in range(-20, 40)]
    elif case == "string":
        ddl, rows = "k string, v string", [(f"key-{k}", "x") for k in range(50)] + [("ü", "y")]
    elif case == "null_key":
        ddl, rows = "k long, v string", [(3, "a"), (None, "b"), (9, "c")]
    elif case == "bit63":
        ddl, rows = "k long, v string", [(_bit63_long(spark), "a"), (-(2**40), "b")]
    else:
        ddl, rows = "k long, v string", [(None, "a"), (None, "b")]
    stats, want = _observed_and_read_back(spark, tmp_path, ddl, rows, jobs)
    assert stats == want
    if case == "all_null":
        assert stats == {}
    else:
        (entry,) = stats.values()
        assert len(entry) == 3
    if case == "bit63":
        assert any(w < 0 for w in entry[2])
    if case == "null_key":
        # xxhash64(NULL) is the seed hash: its bits are set as well
        no_null = _observed_and_read_back(
            spark, tmp_path / "no_null", ddl, [r for r in rows if r[0] is not None], jobs
        )[0]
        assert list(no_null.values())[0][2] != entry[2]


# -- driver-side grouping ≡ join arm ≡ aggregate arm ------------------------------

ARMS = {
    "driver": {},
    "join": {"SMALL_BATCH_CAP": 0},
    "aggregate": {"SMALL_BATCH_CAP": 0, "PROBE_CAP": 0},
}

NAN = float("nan")

CASES = {
    # key type, table rows, source rows (key, value, is_del)
    "float": (
        "double",
        [(0.0, "zero"), (1.5, "a"), (NAN, "nan"), (2.5, "b"), (None, "null")],
        [(-0.0, "neg-zero", False), (NAN, "nan2", False), (1.5, None, True),
         (3.5, "new", False), (None, "null2", False), (9.5, None, True)],
    ),
    "string": (
        "string",
        [("a", "1"), ("b", "2"), ("", "empty"), (None, "null")],
        [("a", "1b", False), ("b", None, True), ("ü", "new", False),
         ("", "empty2", False), (None, "null2", False)],
    ),
}


def _norm(v):
    return "NaN" if isinstance(v, float) and v != v else v


def _state(spark, path):
    return sorted(
        (tuple(_norm(x) for x in r) for r in read_parquet_table(spark, path).collect()),
        key=lambda r: tuple((x is None, str(x)) for x in r),
    )


@pytest.mark.parametrize("case", list(CASES))
def test_driver_grouping_matches_the_join_and_aggregate_arms(
    spark, tmp_path, monkeypatch, case
):
    key_type, table_rows, source_rows = CASES[case]
    ddl = f"k {key_type}, v string"
    outcomes = {}
    for arm, caps in ARMS.items():
        with monkeypatch.context() as mp:
            for name, value in caps.items():
                mp.setattr(index_fs, name, value)
            path = str(tmp_path / f"{case}_{arm}")
            create_parquet_table(local_frame(spark, table_rows, ddl), path)
            out = merge_into_parquet(
                spark, path, local_frame(spark, source_rows, f"{ddl}, is_del boolean"),
                ["k"], delete_col="is_del",
            )
            counts = {k: out[k] for k in ("inserted", "updated", "deleted", "noop_deletes")}
            outcomes[arm] = (counts, _state(spark, path))
    assert outcomes["driver"] == outcomes["join"] == outcomes["aggregate"]
    if case == "float":
        # -0.0 matched 0.0 and NaN matched NaN; the null key matched nothing
        assert outcomes["driver"][0] == {
            "inserted": 2, "updated": 2, "deleted": 1, "noop_deletes": 1,
        }


DUPLICATES = [
    ("double", [(-0.0, "a"), (0.0, "b")], "[0.0]"),
    ("double", [(NAN, "a"), (1.0, "b"), (NAN, "c")], "[nan]"),
    ("string", [("x", "a"), ("x", "b")], "['x']"),
    ("bigint", [(None, "a"), (7, "b"), (None, "c")], "[None]"),
]


@pytest.mark.parametrize("key_type, rows, shown", DUPLICATES)
def test_duplicate_key_errors_match_across_arms(
    spark, tmp_path, monkeypatch, key_type, rows, shown
):
    ddl = f"k {key_type}, v string"
    path = str(tmp_path / "t")
    create_parquet_table(local_frame(spark, [rows[0]], ddl), path)
    m = index_fs.read_manifest(spark, path)
    for arm, caps in ARMS.items():
        with monkeypatch.context() as mp:
            for name, value in caps.items():
                mp.setattr(index_fs, name, value)
            with pytest.raises(ValueError) as err:
                merge_into_parquet(spark, path, local_frame(spark, rows, ddl), ["k"])
        assert str(err.value) == f"MERGE source has multiple rows for key {shown}", arm
    assert index_fs.read_manifest(spark, path) == m
