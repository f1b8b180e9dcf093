"""Fast ≡ join equivalence for the r12 small-batch driver-side paths.

Every mutation below runs twice — once on the bounded-collect fast
path (the default at test sizes) and once with the caps forced to 0
so the original join/aggregate formulations run — and the OUTCOMES
are compared exactly: merge result counts, final table rows, change
feed rows, index probe hits, tombstone sets. The fast paths must be
invisible to every reader.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sqltask_spark.operators import index_fs
from sqltask_spark.operators import merge as mg


def _rows(df, cols=None):
    cols = cols or sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


@pytest.fixture
def tmpdir():
    d = tempfile.mkdtemp(prefix="fastpath_eq_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk_table(spark, path):
    seed = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(40)],
        "k long, v string, grp long",
    )
    mg.create_parquet_table(
        seed.repartition(4, "k"), path, stats_col="k"
    )


_BATCH = [
    (1, "v1", 1),          # identical-value update: NOT a change
    (2, "V2-new", 2),      # real update
    (100, "brand-new", 0),  # insert
    (3, None, 0),          # update to null value
    (None, "null-key", 9),  # null key: insert by join semantics
]


def _merge_batch(spark, path, delete_keys=(), include_null=True):
    batch = _BATCH if include_null else [
        b for b in _BATCH if b[0] is not None
    ]
    rows = [(k, v, g, False) for k, v, g in batch] + [
        (k, None, 0, True) for k in delete_keys
    ]
    src = spark.createDataFrame(
        rows, "k long, v string, grp long, is_del boolean"
    )
    return mg.merge_into_parquet(
        spark, path, src, ["k"], delete_col="is_del"
    )


def test_merge_decide_fast_matches_join(spark, tmpdir, monkeypatch):
    pa, pb = f"{tmpdir}/a", f"{tmpdir}/b"
    _mk_table(spark, pa)
    _mk_table(spark, pb)
    res_fast = _merge_batch(spark, pa, delete_keys=(5, 7, 999))
    monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", 0)
    res_join = _merge_batch(spark, pb, delete_keys=(5, 7, 999))
    assert res_fast == res_join
    assert _rows(mg.read_parquet_table(spark, pa)) == _rows(
        mg.read_parquet_table(spark, pb)
    )


def test_table_changes_fast_matches_join(spark, tmpdir, monkeypatch):
    path = f"{tmpdir}/t"
    _mk_table(spark, path)
    v0 = index_fs.read_manifest(spark, path)["_seq"]
    _merge_batch(spark, path, delete_keys=(5,), include_null=False)
    df_fast, by_type = mg.table_changes_classified(
        spark, path, ["k"], v0
    )
    assert by_type is not None  # the window fast path fired
    rows_fast = _rows(df_fast)
    monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", 0)
    df_join, by_join = mg.table_changes_classified(
        spark, path, ["k"], v0
    )
    assert by_join is None  # the join path never carries counts
    assert rows_fast == _rows(df_join)
    # identical-value update (k=1) must appear in NEITHER feed;
    # the real update must appear as pre+post
    types = {}
    for r in df_fast.collect():
        types.setdefault(r["_change_type"], set()).add(r["k"])
    assert 1 not in types.get("update_preimage", set())
    assert 2 in types.get("update_preimage", set())
    assert 2 in types.get("update_postimage", set())
    assert 3 in types.get("update_preimage", set())  # null-value upd
    assert 5 in types.get("delete", set())
    assert 100 in types.get("insert", set())
    assert by_type == {
        t: len(ks) for t, ks in types.items()
    } | {
        t: 0
        for t in (
            "insert", "delete", "update_preimage", "update_postimage"
        )
        if t not in types
    }


def test_table_changes_null_key_falls_back(spark, tmpdir):
    # a null key in the window makes driver classification ambiguous
    # — the fast path must decline and the join path classify it as
    # an insert (null joins nothing on either side)
    path = f"{tmpdir}/tn"
    _mk_table(spark, path)
    v0 = index_fs.read_manifest(spark, path)["_seq"]
    _merge_batch(spark, path, include_null=True)
    df, by_type = mg.table_changes_classified(spark, path, ["k"], v0)
    assert by_type is None
    ins = {
        r["k"]
        for r in df.filter(
            F.col("_change_type") == "insert"
        ).collect()
    }
    assert None in ins and 100 in ins


def test_index_mutations_fast_match_join(spark, tmpdir, monkeypatch):
    from sqltask_spark.operators import dedup_index as di

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(60)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (3, "alpha beta gamma delta 3 epsilon zeta"),  # stored
            (900, "totally novel words here now ok"),      # novel
        ],
        "doc_id long, text string",
    )
    take = spark.createDataFrame(
        [(0,), (7,), (4444,)], "doc_id long"
    )
    outcomes = []
    for force_join in (False, True):
        p = f"{tmpdir}/idx{int(force_join)}"
        if force_join:
            monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", 0)
        di.build_minhash_index(docs, p)
        n_app = di.append_to_minhash_index(p, batch)
        n_del = di.delete_from_minhash_index(p, take)
        ub = di.unblock_minhash_ids(spark, p, take)
        m = di.committed_manifest(spark, p)
        tombs = di.read_tombstones(spark, p, m)
        probe = di.probe_minhash_index(
            spark, p, docs.limit(10), threshold=0.4
        )
        outcomes.append(
            (
                n_app,
                n_del,
                ub["unblocked"],
                sorted(ub["rewritten_generations"]),
                sorted(
                    r["id"] for r in (tombs.collect() if tombs is not None else [])
                ),
                _rows(probe),
            )
        )
        probe.unpersist()
    assert outcomes[0] == outcomes[1]
    assert outcomes[0][0] == 1  # only the novel doc appended
    assert outcomes[0][1] == 2  # two stored ids tombstoned
    assert outcomes[0][2] == 2  # both freed again


def test_content_fingerprint_fast_matches_agg(spark, monkeypatch):
    import sqltask_spark.data as data_mod

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c"), (3, "d")] * 5,
        "k long, v string",
    )
    fast = data_mod.content_fingerprint(df, ["k", "v"])
    # empty relation: the zero fingerprint
    assert (
        data_mod.content_fingerprint(df.filter(F.lit(False)), ["k", "v"])
        == "0:0:0"
    )
    # the collect cap is the one filter-probe cap, read at call time:
    # patching it to 0 forces the aggregate arm
    monkeypatch.setattr(index_fs, "PROBE_CAP", 0)
    assert data_mod.content_fingerprint(df, ["k", "v"]) == fast


def test_ivf_mutations_fast_match_join(spark, tmpdir, monkeypatch):
    from sqltask_spark.operators import ann_index as ai

    corpus = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 11) for j in range(8)])
            for i in range(50)
        ],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [
            (3, [1.0] * 8),      # stored id: idempotency drop
            (901, [0.5] * 8),    # novel
        ],
        "vec_id long, embedding array<double>",
    )
    take = spark.createDataFrame([(1,), (9_999,)], "vec_id long")
    outcomes = []
    for force_join in (False, True):
        p = f"{tmpdir}/ivf{int(force_join)}"
        if force_join:
            monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", 0)
        ai.build_ivf_index(corpus, p, "vec_id", n_cells=4)
        n_app = ai.append_to_ivf_index(p, batch, "vec_id")
        n_del = ai.delete_from_ivf_index(p, take, "vec_id")
        ub = ai.unblock_ivf_ids(spark, p, take, "vec_id")
        m = ai.committed_manifest(spark, p)
        tombs = ai.read_tombstones(spark, p, m)
        hits = ai.probe_ivf_index(
            spark, p, corpus.limit(5), "vec_id", k=3, n_probe=2
        )
        outcomes.append(
            (
                n_app,
                n_del,
                ub["unblocked"],
                sorted(
                    r["neighbor_id"]
                    for r in (tombs.collect() if tombs is not None else [])
                ),
                _rows(hits),
            )
        )
    assert outcomes[0] == outcomes[1]
    assert outcomes[0][0] == 1
    assert outcomes[0][1] == 1
    assert outcomes[0][2] == 1


def test_table_changes_exact_float_compare_matches_join(
    spark, tmpdir, monkeypatch
):
    """The window arm compares value columns exactly with ``<=>``
    semantics, like the join arm: NaN→NaN, 0.0→-0.0 and null→null are
    unchanged, 1.0→NaN is an update — in a double column and inside an
    array<double>."""
    nan = float("nan")
    schema = "k long, d double, a array<double>"
    path = f"{tmpdir}/f"
    mg.create_parquet_table(
        spark.createDataFrame(
            [(1, nan, [nan]), (2, 0.0, [0.0]), (3, None, None),
             (4, 1.0, [1.0]), (5, 2.0, [2.0])],
            schema,
        ).coalesce(1),
        path, stats_col="k",
    )
    v0 = index_fs.read_manifest(spark, path)["_seq"]
    mg.merge_into_parquet(
        spark, path,
        spark.createDataFrame(
            [(1, nan, [nan]), (2, -0.0, [-0.0]), (3, None, None),
             (4, nan, [1.0]), (5, 2.0, [nan])],
            schema,
        ),
        ["k"],
    )

    def feed():
        df, by_type = mg.table_changes_classified(spark, path, ["k"], v0)
        rows = {(r["_change_type"], r["k"]) for r in df.collect()}
        return rows, by_type

    fast, by_type = feed()
    assert by_type is not None  # the window arm ran
    monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", 0)
    join, by_join = feed()
    assert by_join is None
    assert fast == join == {
        (t, k) for k in (4, 5)
        for t in ("update_preimage", "update_postimage")
    }
