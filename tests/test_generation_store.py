"""The shared generation-store protocol of the persistent indexes.

- The force-join switch is real: patching ``index_fs.SMALL_BATCH_CAP``
  to 0 makes every bounded id collect decline, so every mutation runs
  its join arm (the fast ≡ join suite relies on this).
- Crash atomicity at EVERY write step, for both index kinds and every
  mutation, and for the MERGE tables' upsert, delete-only merge,
  compaction and snapshot fold: a failure injected at each parquet
  write the mutation makes (through the store's one write path) leaves
  the committed manifest and a probe exactly at the pre-mutation
  state, and the re-run heals to the result and state of an
  uninterrupted run.
- Manifest keys a mutation does not own survive every table mutation.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from sqltask_spark.operators import ann_index as ai
from sqltask_spark.operators import dedup_index as di
from sqltask_spark.operators import index_fs
from sqltask_spark.operators import merge as mg


def _text(i):
    # near-duplicates of each other: 8 of 9 word 3-grams shared
    return f"alpha beta gamma delta epsilon zeta eta theta iota kappa {i}"


def _docs(spark, ids, text=None):
    return spark.createDataFrame(
        [(i, text or _text(i)) for i in ids], "doc_id long, text string"
    )


# a narrow signature keeps every tiny-corpus call cheap
MH_PARAMS = {"num_perm": 16, "bands": 4}


def _vecs(spark, ids):
    return spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in ids],
        "vec_id long, embedding array<double>",
    )


def test_force_join_cap_is_read_at_call_time(spark, tmp_path, monkeypatch):
    ids = spark.createDataFrame([(1,), (2,)], "id long")
    assert index_fs.collect_id_rows(ids, "id") is not None
    path = str(tmp_path / "mh")
    di.build_minhash_index(_docs(spark, range(12)), path, **MH_PARAMS)

    members = []
    real_members = index_fs.GenerationStore._members

    def spy(self, rel, want):
        members.append(want)
        return real_members(self, rel, want)

    monkeypatch.setattr(index_fs.GenerationStore, "_members", spy)
    monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", 0)
    assert index_fs.collect_id_rows(ids, "id") is None
    take = _ids(spark, [2, 5])
    assert di.delete_from_minhash_index(path, take) == 2
    assert di.unblock_minhash_ids(spark, path, take)["unblocked"] == 2
    assert di.append_to_minhash_index(path, _docs(spark, [2, 5, 40])) == 3
    # the fast arms' bounded membership scans never ran
    assert members == []

    monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", 512)
    assert di.delete_from_minhash_index(path, take) == 2
    assert members  # the spy sees the fast arm when it runs


def test_probe_bucket_blowup_matches_join_arm(spark, tmp_path, monkeypatch):
    """The probe's tiny-batch arm counts its candidate pairs driver-side
    from one bounded scan; when a batch's buckets hold more pairs than
    the cap (a bucket blowup) it falls back to the Spark aggregate. The
    plain tiny arm, the blowup fallback and the join arm agree."""
    path = str(tmp_path / "mh")
    di.build_minhash_index(_docs(spark, range(12)), path, **MH_PARAMS)
    batch = _docs(spark, [500])

    def probe(cap):
        monkeypatch.setattr(index_fs, "SMALL_BATCH_CAP", cap)
        out = di.probe_minhash_index(spark, path, batch, threshold=0.5)
        rows = sorted(tuple(r) for r in out.collect())
        out.unpersist()
        return rows

    # cap 4 admits the one-doc batch (4 bands) but not its ~10 pairs
    tiny, blowup, join = probe(512), probe(4), probe(0)
    assert len(tiny) > 4
    assert tiny == blowup == join


# -- crash atomicity at every write step -----------------------------

MH_PROBE = [(5003, 3), (5007, 7), (5900, 900)]


def _mh_probe(spark, path):
    batch = spark.createDataFrame(
        [(p, _text(i)) for p, i in MH_PROBE], "doc_id long, text string"
    )
    out = di.probe_minhash_index(spark, path, batch, threshold=0.5)
    rows = sorted(
        (r.batch_id, r.corpus_id, r.n_shared_bands, round(r.jaccard, 9))
        for r in out.collect()
    )
    out.unpersist()
    return rows


def _ivf_probe(spark, path):
    q = _vecs(spark, [3, 7, 36])
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in ai.probe_ivf_index(
            spark, path, q, "vec_id", k=5, n_probe=4
        ).collect()
    )


# Each kind's base state: two generations (build ids 0..19|29, append
# up to 29|39) and a tombstone set of two stored ids, one per
# generation.
def _mh_base(spark, path):
    di.build_minhash_index(_docs(spark, range(20)), path, **MH_PARAMS)
    di.append_to_minhash_index(path, _docs(spark, range(20, 30)))
    di.delete_from_minhash_index(path, _ids(spark, [3, 25]))


def _ivf_base(spark, path):
    ai.build_ivf_index(_vecs(spark, range(30)), path, "vec_id", n_cells=4)
    ai.append_to_ivf_index(path, _vecs(spark, range(30, 40)), "vec_id")
    ai.delete_from_ivf_index(path, _ids(spark, [3, 35], "vec_id"), "vec_id")


def _ids(spark, ids, col="doc_id"):
    return spark.createDataFrame([(i,) for i in ids], f"{col} long")


def _state(store):
    """(stored ids, tombstoned ids, generation count) of the committed
    state."""
    m = store.committed()
    tombs = store.tombstones(m)
    return (
        {r[0] for r in store.read_ids(m).collect()},
        {r[0] for r in tombs.collect()} if tombs is not None else set(),
        len(m["generations"]),
    )


# The table's base state: a 3-file seed with key stats, then one merge
# (a second generation).
def _table_base(spark, path):
    mg.create_parquet_table(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(30)], "k long, v string"
        ).repartition(3, "k"),
        path, stats_col="k",
    )
    mg.merge_into_parquet(
        spark, path, spark.createDataFrame([(40, "v40")], "k long, v string"),
        ["k"], batch_id="b0",
    )


def _table_rows(spark, path):
    return sorted(tuple(r) for r in mg.read_parquet_table(spark, path).collect())


def _table_state(spark, path):
    """(rows, file count, params) of the committed table."""
    m = index_fs.read_manifest(spark, path)
    return _table_rows(spark, path), len(m["files"]), m.get("params")


def _table_merge(spark, path, rows):
    src = spark.createDataFrame(rows, "k long, v string, d boolean")
    return mg.merge_into_parquet(
        spark, path, src, ["k"], batch_id="b1", delete_col="d"
    )


TABLE_MUTATIONS = {
    "upsert": lambda s, p: _table_merge(
        s, p, [(3, "new3", False), (100, "v100", False)]
    ),
    # deletes two keys; their files keep survivors that get rewritten
    "delete": lambda s, p: _table_merge(
        s, p, [(5, None, True), (6, None, True)]
    ),
    "compact": lambda s, p: mg.compact_parquet_table(s, p),
    # the snapshot commit of the sketch stores: the whole state rewritten
    "fold": lambda s, p: mg.fold_parquet_table(
        s, p, lambda rows, params: rows.withColumn("v", F.concat("v", F.lit("+"))),
        batch_id="b1",
    ),
    # a sketch-store rebuild: new params, committed with the state
    # they shaped
    "rebuild": lambda s, p: mg.fold_parquet_table(
        s, p,
        lambda rows, params: rows.withColumn("v", F.concat("v", F.lit(params["tag"]))),
        params={"tag": "+r"},
    ),
}


KINDS = {
    "minhash": (_mh_base, _mh_probe, di.MinHashStore, {
        "append": lambda s, p: di.append_to_minhash_index(
            p, _docs(s, [5, 900]).union(
                _docs(s, [901], "totally novel words here now ok")
            )
        ),
        "delete": lambda s, p: di.delete_from_minhash_index(
            p, _ids(s, [7, 9999])
        ),
        "unblock": lambda s, p: di.unblock_minhash_ids(s, p, _ids(s, [3])),
        "compact": lambda s, p: di.compact_minhash_index(s, p),
    }),
    "ivf": (_ivf_base, _ivf_probe, ai.IvfStore, {
        "append": lambda s, p: ai.append_to_ivf_index(
            p, _vecs(s, [5, 900, 901]), "vec_id"
        ),
        "delete": lambda s, p: ai.delete_from_ivf_index(
            p, _ids(s, [7, 9999], "vec_id"), "vec_id"
        ),
        "unblock": lambda s, p: ai.unblock_ivf_ids(
            s, p, _ids(s, [3], "vec_id"), "vec_id"
        ),
        "compact": lambda s, p: ai.compact_ivf_index(s, p),
    }),
}


def _expected(mutation, manifest, state):
    """What an uninterrupted run of ``mutation`` returns and leaves,
    from the base state ``(ids, tombstones, n_generations)``."""
    ids, tombs, n_gens = state
    return {
        "append": (2, (ids | {900, 901}, tombs, n_gens + 1)),
        "delete": (1, (ids, tombs | {7}, n_gens)),
        # id 3 lives in the first generation only; [min,max] pruning
        # leaves it the one candidate
        "unblock": (
            {"unblocked": 1,
             "rewritten_generations": manifest["generations"][:1],
             "candidate_generations": 1},
            (ids - {3}, tombs - {3}, n_gens),
        ),
        "compact": (None, (ids - tombs, set(), 1)),
    }[mutation]


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """Per kind: (base path, its committed manifest, its probe, its
    state) — built once, copied per test."""
    root = tmp_path_factory.mktemp("genstore")
    out = {}
    for kind, (build, probe, store, _) in KINDS.items():
        path = str(root / kind)
        build(spark, path)
        out[kind] = (path, index_fs.read_manifest(spark, path),
                     probe(spark, path), _state(store(spark, path)))
    path = str(root / "table")
    _table_base(spark, path)
    out["table"] = (path, index_fs.read_manifest(spark, path),
                    _table_rows(spark, path), _table_state(spark, path))
    return out


class _Injected(RuntimeError):
    pass


CRASH_CASES = [
    (kind, mutation)
    for kind in ("minhash", "ivf")
    for mutation in ("append", "delete", "unblock", "compact")
] + [("table", mutation) for mutation in TABLE_MUTATIONS]


@pytest.mark.parametrize(
    "kind,mutation", CRASH_CASES, ids=[f"{k}-{m}" for k, m in CRASH_CASES]
)
def test_crash_at_every_write_keeps_committed_state(
    spark, bases, tmp_path, monkeypatch, kind, mutation
):
    base, pre_manifest, pre_probe, pre_state = bases[kind]
    if kind == "table":
        probe, state = _table_rows, _table_state
        mutate = TABLE_MUTATIONS[mutation]
    else:
        _, probe, store, mutations = KINDS[kind]
        mutate = mutations[mutation]

        def state(s, p):
            return _state(store(s, p))

    path = str(tmp_path / kind)
    shutil.copytree(base, path)

    real_write = index_fs.GenerationStore.write
    crash_at = 1
    while True:
        writes = []

        def write(self, df, rel, partition_by=None):
            writes.append(rel)
            if len(writes) == crash_at:
                raise _Injected(f"write {crash_at} ({rel})")
            return real_write(self, df, rel, partition_by)

        monkeypatch.setattr(index_fs.GenerationStore, "write", write)
        try:
            result = mutate(spark, path)
        except _Injected:
            monkeypatch.setattr(index_fs.GenerationStore, "write", real_write)
            assert index_fs.read_manifest(spark, path) == pre_manifest, (
                f"{kind} {mutation}: crash at write {crash_at} moved the"
                " committed manifest"
            )
            assert probe(spark, path) == pre_probe
            crash_at += 1
            continue
        monkeypatch.setattr(index_fs.GenerationStore, "write", real_write)
        break
    # every write of the mutation was a crash point, and the run that
    # finally got past them all healed: one commit, the uninterrupted
    # result and state
    assert crash_at == len(writes) + 1 > 1
    assert index_fs.read_manifest(spark, path)["_seq"] == pre_manifest["_seq"] + 1
    if kind == "table":
        clean = str(tmp_path / "uninterrupted")
        shutil.copytree(base, clean)
        expected = (mutate(spark, clean), state(spark, clean))
        # the swept debris left exactly the committed generations
        assert set(index_fs.list_names(spark, f"{path}/data")) == {
            rel.split("/", 1)[0]
            for m in index_fs.read_all_manifests(spark, path)
            for rel in m["files"]
        }
    else:
        expected = _expected(mutation, pre_manifest, pre_state)
    assert (result, state(spark, path)) == expected


def test_table_mutations_carry_unknown_manifest_keys(spark, tmp_path):
    """A key another subsystem commits on a table (a sync marker,
    future metadata) survives a merge, a compaction, an add-column and
    a ledger trim."""
    path = str(tmp_path / "t")
    _table_base(spark, path)
    m = index_fs.read_manifest(spark, path)
    extra = {"synced_by": {"consumer": 7}}
    index_fs.commit_manifest(
        spark, path, {**{k: v for k, v in m.items() if k != "_seq"}, **extra},
        m["_seq"],
    )
    mutations = [
        lambda: TABLE_MUTATIONS["upsert"](spark, path),
        lambda: mg.compact_parquet_table(spark, path),
        lambda: mg.add_table_column(spark, path, "tag", "string"),
        lambda: mg.trim_batch_ledger(spark, path, 1),
    ]
    for mutate in mutations:
        seq = index_fs.read_manifest(spark, path)["_seq"]
        mutate()
        m = index_fs.read_manifest(spark, path)
        assert m["_seq"] == seq + 1  # every step committed
        assert m["synced_by"] == extra["synced_by"]
