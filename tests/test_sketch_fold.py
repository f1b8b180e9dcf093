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
        merged = fold(mg.read_parquet_table(spark, path), ss.read_params(spark, path))
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

    def never(rows, params):
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
            spark, path, lambda rows, params: rows.withColumn("r", F.col("r").cast("string"))
        )
    with pytest.raises(ValueError, match="columns"):
        mg.fold_parquet_table(spark, path, lambda rows, params: rows.drop("r"))
    assert index_fs.read_manifest(spark, path) == m


def test_commit_between_read_and_commit_raises(spark, tmp_path):
    """A writer that commits while the fold runs holds the next
    manifest slot; the fold's commit fails on it instead of
    overwriting that writer's state."""
    path = str(tmp_path / "hll")
    STORES["hll"][0](spark, path, _values(spark, 0, 30))
    regs = _hll_regs(_values(spark, 30, 60))

    def racing_fold(rows, params):
        # the interloper: another fold commits manifest 1 first
        mg.fold_parquet_table(
            spark, path, lambda r, p: r.withColumn("r", F.lit(24)), batch_id="other"
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


# -- the evicting folds and the rebuilds ------------------------------------


def _null_first(row):
    return tuple((v is not None, v) for v in row)


def _nullable_rows(spark, path):
    """:func:`_rows` for states with null groups."""
    rows = mg.read_parquet_table(spark, path).collect()
    return sorted((tuple(r) for r in rows), key=_null_first)


@pytest.fixture
def no_merge(monkeypatch):
    """Fail any MERGE: these writers commit one snapshot instead."""

    def merge_into_parquet(*a, **kw):
        raise AssertionError("a snapshot writer ran a MERGE")

    monkeypatch.setattr(mg, "merge_into_parquet", merge_into_parquet)


def _mg_step(counters, decr, total, batch, k):
    """One mergeable-summaries step on plain dicts — the reference the
    store's fold must reproduce: add the batch counts, subtract each
    group's (k+1)-th largest counter, keep the positive ones."""
    counters = dict(counters)
    for key, c in batch.items():
        counters[key] = counters.get(key, 0) + c
    decr, total = dict(decr), dict(total)
    for g in {g for g, _ in batch}:
        total[g] = total.get(g, 0) + sum(c for (h, _), c in batch.items() if h == g)
        ranked = sorted(
            ((-c, item) for (h, item), c in counters.items() if h == g)
        )
        d = -ranked[k][0] if len(ranked) > k else 0
        if d:
            decr[g] = decr.get(g, 0) + d
            for (h, item), c in list(counters.items()):
                if h == g:
                    counters[(h, item)] = c - d
    counters = {key: c for key, c in counters.items() if c > 0}
    return counters, decr, total


def test_mg_fold_commits_the_reference_state(spark, tmp_path, no_merge):
    def counts(rows):
        out = {}
        for g, item in rows:
            out[(g, item)] = out.get((g, item), 0) + 1
        return out

    first = [("a", f"x{i % 4}") for i in range(10)] + [(None, "y")] * 2
    second = [("a", f"x{i % 6}") for i in range(9)] + [("b", "z")] * 3
    second += [(None, "y"), (None, "w")]
    path = str(tmp_path / "mg")
    ss.create_mg_store(
        spark.createDataFrame(first, "g string, t string"), path, "g", "t",
        k=2, batch_id="b0",
    )
    stored = _nullable_rows(spark, path)
    counters = {
        (g, it): c for g, it, c in stored
        if it not in (ss._MG_DECR_ITEM, ss._MG_TOTAL_ITEM)
    }
    decr = {g: c for g, it, c in stored if it == ss._MG_DECR_ITEM}
    total = {g: c for g, it, c in stored if it == ss._MG_TOTAL_ITEM}

    out = ss.update_mg_store(
        spark, path, spark.createDataFrame(second, "g string, t string"),
        "g", "t", "b1",
    )

    assert out["skipped"] is False
    c2, d2, t2 = _mg_step(counters, decr, total, counts(second), 2)
    want = (
        [(g, it, c) for (g, it), c in c2.items()]
        + [(g, ss._MG_DECR_ITEM, c) for g, c in d2.items()]
        + [(g, ss._MG_TOTAL_ITEM, c) for g, c in t2.items()]
    )
    assert _nullable_rows(spark, path) == sorted(want, key=_null_first)
    assert ss.read_params(spark, path) == {"k": 2}
    # the replay is a ledger hit: nothing read, nothing committed
    seq = index_fs.read_manifest(spark, path)["_seq"]
    assert ss.update_mg_store(spark, path, spark.createDataFrame(second, "g string, t string"),
                              "g", "t", "b1")["skipped"] is True
    assert index_fs.read_manifest(spark, path)["_seq"] == seq


def test_mg_sentinel_item_fails_the_fold(spark, tmp_path):
    path = str(tmp_path / "mg")
    rows = spark.createDataFrame([("a", "x")], "g string, t string")
    ss.create_mg_store(rows, path, "g", "t", k=2, batch_id="b0")
    m = index_fs.read_manifest(spark, path)
    bad = spark.createDataFrame([("a", ss._MG_TOTAL_ITEM)], "g string, t string")
    with pytest.raises(Exception, match="reserved sentinel"):
        ss.update_mg_store(spark, path, bad, "g", "t", "b1")
    assert index_fs.read_manifest(spark, path) == m


def test_kmv_fold_keeps_the_bottom_k_and_its_k(spark, tmp_path, no_merge):
    k = 3
    first = [("a", f"k{i}") for i in range(5)] + [(None, "n1")]
    second = [("a", f"k{i}") for i in range(3, 9)] + [("b", "k1"), (None, "n2")]
    path = str(tmp_path / "kmv")
    schema = "g string, key string"
    ss.create_kmv_store(spark.createDataFrame(first, schema), path, "g", "key", k=k)

    ss.update_kmv_store(spark, path, spark.createDataFrame(second, schema), "g", "key")

    hashed = {
        r["item"]: r["h"]
        for r in spark.createDataFrame(
            [(t,) for _, t in first + second], "item string"
        ).select("item", ss.kmv_hash("item").alias("h")).collect()
    }
    want = []
    for g in ("a", "b", None):
        items = sorted({t for h, t in first + second if h == g}, key=lambda t: (hashed[t], t))
        want += [(g, t, hashed[t]) for t in items[:k]]
    assert _nullable_rows(spark, path) == sorted(want, key=_null_first)
    assert ss.read_params(spark, path) == {"k": k}


def test_rebuilds_commit_the_fresh_layout(spark, tmp_path, no_merge):
    members = _values(spark, 0, 80)
    bloom, fresh_bloom = str(tmp_path / "bloom"), str(tmp_path / "bloom_fresh")
    ss.create_bloom_store(_values(spark, 0, 40), bloom, 63 * 4, "text")
    ss.rebuild_bloom_store(spark, bloom, members, "text", 63 * 16)
    ss.create_bloom_store(members, fresh_bloom, 63 * 16, "text")
    assert _rows(spark, bloom) == _rows(spark, fresh_bloom)
    assert ss.read_params(spark, bloom) == {"m_bits": 63 * 16}

    hist, fresh_hist = str(tmp_path / "hist"), str(tmp_path / "hist_fresh")
    ss.create_hist_store(_values(spark, 0, 40), hist, "src", "n", 4, 8)
    ss.rebuild_hist_store(spark, hist, members, "src", "n", 16)
    ss.create_hist_store(members, fresh_hist, "src", "n", 16, 8)
    assert _rows(spark, hist) == _rows(spark, fresh_hist)
    assert ss.read_params(spark, hist) == {"bucket_width": 16, "n_buckets": 8}
    for path in (bloom, hist):
        assert index_fs.read_manifest(spark, path)["_seq"] == 1
