"""The sketch-store folds commit through ``merge.fold_parquet_table``.

- Equivalence: for the HLL, Count-Min, histogram and Bloom stores, the
  snapshot fold commits exactly the rows the former formulation — the
  same folded state passed to ``merge_into_parquet`` on its key
  columns — commits from the same base, with the same batch ledger.
- A ledger hit returns before the fold runs and moves no manifest.
- A commit that lands between the fold's manifest read and its own
  commit makes the fold raise instead of publishing over it.
"""

from __future__ import annotations

import shutil

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from sqltask_spark.operators import index_fs
from sqltask_spark.operators import merge as mg
from sqltask_spark.operators import sketch_store as ss


def _values(spark, lo, hi):
    return spark.createDataFrame(
        [(f"src{i % 3}", f"doc-{i}", i % 97) for i in range(lo, hi)],
        "src string, text string, n long",
    )


def _hll_regs(df):
    return ss.hll_register_rows(df.withColumn("fp", F.md5("text")), "src", "fp")


def _cm_cells(df):
    census = df.groupBy("src", "text").agg(F.count(F.lit(1)).alias("c"))
    return ss.cm_cell_rows(census, "src", "text", "c")


# kind: (create from the base rows, update with the batch rows, the
# key columns the former MERGE formulation used)
STORES = {
    "hll": (
        lambda s, p, df: ss.create_hll_store(_hll_regs(df), p),
        lambda s, p, df: ss.update_hll_store(s, p, _hll_regs(df), batch_id="b1"),
        ["g", "idx"],
    ),
    "cm": (
        lambda s, p, df: ss.create_cm_store(_cm_cells(df), p),
        lambda s, p, df: ss.update_cm_store(s, p, _cm_cells(df), "b1"),
        ["g", "j", "p"],
    ),
    "hist": (
        lambda s, p, df: ss.create_hist_store(df, p, "src", "n", 8, 8),
        lambda s, p, df: ss.update_hist_store(s, p, df, "src", "n", "b1"),
        ["g", "b"],
    ),
    "bloom": (
        lambda s, p, df: ss.create_bloom_store(df, p, 63 * 8, "text"),
        lambda s, p, df: ss.update_bloom_store(s, p, df, "text"),
        ["word"],
    ),
}


def _rows(spark, path):
    return sorted(tuple(r) for r in mg.read_parquet_table(spark, path).collect())


@pytest.mark.parametrize("kind", list(STORES))
def test_fold_commits_what_the_merge_formulation_commits(
    spark, tmp_path, monkeypatch, kind
):
    create, update, keys = STORES[kind]
    base = str(tmp_path / "base")
    create(spark, base, _values(spark, 0, 60))
    batch = _values(spark, 40, 100)
    fold_path, merge_path = str(tmp_path / "fold"), str(tmp_path / "merge")
    shutil.copytree(base, fold_path)
    shutil.copytree(base, merge_path)

    out = update(spark, fold_path, batch)
    assert out["skipped"] is False

    def merge_formulation(spark, path, fold, batch_id=None):
        merged = fold(mg.read_parquet_table(spark, path))
        return mg.merge_into_parquet(spark, path, merged, keys, batch_id=batch_id)

    monkeypatch.setattr(mg, "fold_parquet_table", merge_formulation)
    update(spark, merge_path, batch)

    assert _rows(spark, fold_path) == _rows(spark, merge_path)
    assert _rows(spark, fold_path) != _rows(spark, base)
    m_fold = index_fs.read_manifest(spark, fold_path)
    m_merge = index_fs.read_manifest(spark, merge_path)
    assert m_fold["_seq"] == m_merge["_seq"] == 1
    assert m_fold["batches"] == m_merge["batches"]


@pytest.mark.parametrize("kind", ["hll", "cm", "hist"])
def test_ledger_hit_moves_no_manifest(spark, tmp_path, kind):
    create, update, _ = STORES[kind]
    path = str(tmp_path / kind)
    create(spark, path, _values(spark, 0, 30))
    batch = _values(spark, 20, 50)
    update(spark, path, batch)
    listing = index_fs.list_names(spark, f"{path}/{index_fs.MANIFEST_DIR}")
    m = index_fs.read_manifest(spark, path)

    assert update(spark, path, batch)["skipped"] is True

    def never(rows):
        raise AssertionError("a ledger hit ran the fold")

    assert mg.fold_parquet_table(spark, path, never, batch_id="b1") == {
        "skipped": True, "rewritten_files": 0, "total_files": len(m["files"]),
    }
    assert index_fs.list_names(spark, f"{path}/{index_fs.MANIFEST_DIR}") == listing
    assert index_fs.read_manifest(spark, path) == m


def test_fold_rejects_a_state_off_the_table_schema(spark, tmp_path):
    path = str(tmp_path / "hll")
    STORES["hll"][0](spark, path, _values(spark, 0, 30))
    m = index_fs.read_manifest(spark, path)
    with pytest.raises(ValueError, match="types do not match"):
        mg.fold_parquet_table(
            spark, path, lambda rows: rows.withColumn("r", F.col("r").cast("string"))
        )
    with pytest.raises(ValueError, match="columns"):
        mg.fold_parquet_table(spark, path, lambda rows: rows.drop("r"))
    assert index_fs.read_manifest(spark, path) == m


def test_commit_between_read_and_commit_raises(spark, tmp_path):
    """A writer that commits while the fold runs holds the next
    manifest slot; the fold's commit fails on it instead of
    overwriting that writer's state."""
    path = str(tmp_path / "hll")
    STORES["hll"][0](spark, path, _values(spark, 0, 30))
    regs = _hll_regs(_values(spark, 30, 60))

    def racing_fold(rows):
        # the interloper: another fold commits manifest 1 first
        mg.fold_parquet_table(
            spark, path, lambda r: r.withColumn("r", F.lit(24)), batch_id="other"
        )
        return (
            rows.unionByName(regs).groupBy("g", "idx")
            .agg(F.max("r").cast("int").alias("r"))
        )

    with pytest.raises(Py4JJavaError, match="already exists"):
        mg.fold_parquet_table(spark, path, racing_fold, batch_id="mine")
    m = index_fs.read_manifest(spark, path)
    assert m["_seq"] == 1 and m["batches"] == ["other"]
    assert {r[2] for r in _rows(spark, path)} == {24}
