"""A sketch store keeps its frozen parameters in its manifest.

- ``read_params`` reads them from the manifest: no Spark job.
- Every group value is an ordinary group: the null group and groups
  named like reserved parameter rows read back like any other group,
  and no batch can move a parameter.
- The folds, the Bloom probe and the histogram policy's no-op path
  take the parameters from the manifest, not from a collect of the
  store's rows.
- A rebuild commits its new parameters in the same manifest as its
  new state; the version before keeps the old ones.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sqltask_spark.operators import index_fs
from sqltask_spark.operators import sketch_store as ss
from sqltask_spark.operators.index_maintenance import maintain_hist_store

# group names the stores once reserved for their parameter rows
OLD_SENTINELS = ["__HIST_META__", "__MG_META__", "__KMV_META__"]
LABELS = [None, *OLD_SENTINELS, "plain"]

# kind: (first batch values, second batch values, create, update,
# the params the create commits)
KINDS = {
    "hist": (
        [1, 2, 3, 9, 17, 30, 31, 40],
        [1, 1, 5, 100],
        lambda s, p, df: ss.create_hist_store(df, p, "g", "v", 4, 8, batch_id="b0"),
        lambda s, p, df: ss.update_hist_store(s, p, df, "g", "v", "b1"),
        {"bucket_width": 4, "n_buckets": 8},
    ),
    "mg": (
        ["k", "k", "k", "x", "x", "y", "z"],
        ["k", "y", "y", "w"],
        lambda s, p, df: ss.create_mg_store(df, p, "g", "v", k=2, batch_id="b0"),
        lambda s, p, df: ss.update_mg_store(s, p, df, "g", "v", "b1"),
        {"k": 2},
    ),
    "kmv": (
        ["k", "a1", "a2", "a3", "a4", "a5"],
        ["k", "b1", "b2", "b3", "b4"],
        lambda s, p, df: ss.create_kmv_store(df, p, "g", "v", k=3),
        lambda s, p, df: ss.update_kmv_store(s, p, df, "g", "v"),
        {"k": 3},
    ),
}

READERS = {
    "read_hist_quantiles": ("hist", lambda s, p: ss.read_hist_quantiles(s, p, [250, 500, 1000])),
    "hist_saturation": ("hist", ss.hist_saturation),
    "read_mg_topk": ("mg", ss.read_mg_topk),
    "mg_saturation": ("mg", ss.mg_saturation),
    "read_kmv_state": ("kmv", ss.read_kmv_state),
    "read_kmv_estimates": ("kmv", ss.read_kmv_estimates),
}


def _batch(spark, kind, values):
    vtype = "long" if kind == "hist" else "string"
    return spark.createDataFrame(
        [(g, v) for g in LABELS for v in values], f"g string, v {vtype}"
    )


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """Per kind, a store folded from two batches in which every label
    holds the same values."""
    root = tmp_path_factory.mktemp("params")
    out = {}
    for kind, (first, second, create, update, _) in KINDS.items():
        path = str(root / kind)
        create(spark, path, _batch(spark, kind, first))
        update(spark, path, _batch(spark, kind, second))
        out[kind] = path
    return out


def _by_group(df):
    """{group: sorted rows without the group column}."""
    out = {}
    for r in df.collect():
        d = r.asDict()
        out.setdefault(d.pop("g"), []).append(tuple(d.values()))
    return {g: sorted(rows, key=repr) for g, rows in out.items()}


@pytest.mark.parametrize("reader", list(READERS))
def test_null_group_reads_like_any_group(spark, stores, reader):
    kind, read = READERS[reader]
    got = _by_group(read(spark, stores[kind]))
    assert got["plain"]
    assert got.get(None) == got["plain"]


@pytest.mark.parametrize("reader", list(READERS))
def test_old_sentinel_names_are_ordinary_groups(spark, stores, reader):
    kind, read = READERS[reader]
    got = _by_group(read(spark, stores[kind]))
    for name in OLD_SENTINELS:
        assert got.get(name) == got["plain"], name
    assert ss.read_params(spark, stores[kind]) == KINDS[kind][4]


def test_read_params_runs_no_job(spark, stores, tmp_path, jobs):
    bloom = str(tmp_path / "bloom")
    ss.create_bloom_store(_batch(spark, "mg", ["a", "b"]), bloom, 63 * 8, "v")
    paths = {**stores, "bloom": bloom}
    want = {**{k: v[4] for k, v in KINDS.items()}, "bloom": {"m_bits": 63 * 8}}
    for kind, path in paths.items():
        with jobs() as c:
            got = ss.read_params(spark, path)
        assert (got, c.n) == (want[kind], 0), kind


def test_folds_and_probe_collect_no_parameter(spark, tmp_path, jobs):
    """Each call runs only its own plan and write: no job reads a
    parameter back from the store's rows."""
    def vals(lo, hi):
        return spark.createDataFrame(
            [(f"src{i % 3}", f"doc-{i}", i % 97) for i in range(lo, hi)],
            "src string, text string, n long",
        )

    bloom, hist = str(tmp_path / "bloom"), str(tmp_path / "hist")
    mg, kmv = str(tmp_path / "mg"), str(tmp_path / "kmv")
    ss.create_bloom_store(vals(0, 40), bloom, 63 * 64, "text")
    ss.create_hist_store(vals(0, 40), hist, "src", "n", 64, 8)
    ss.create_mg_store(vals(0, 40), mg, "src", "text", k=4, batch_id="b0")
    ss.create_kmv_store(vals(0, 40), kmv, "src", "text", k=4)
    batch = vals(40, 60)
    calls = {
        "update_bloom_store": (3, lambda: ss.update_bloom_store(spark, bloom, batch, "text")),
        "bloom_probe": (0, lambda: ss.bloom_probe(spark, bloom, vals(0, 10), "text")),
        "update_hist_store": (3, lambda: ss.update_hist_store(spark, hist, batch, "src", "n", "b1")),
        "update_mg_store": (5, lambda: ss.update_mg_store(spark, mg, batch, "src", "text", "b1")),
        "update_kmv_store": (3, lambda: ss.update_kmv_store(spark, kmv, batch, "src", "text")),
        # the no-op policy check: its one saturation aggregate
        "maintain_hist_store": (3, lambda: maintain_hist_store(
            spark, hist, vals(0, 80), "src", "n", max_top_bucket_milli=1000
        )),
    }
    counts = {}
    for name, (_, call) in calls.items():
        with jobs() as c:
            call()
        counts[name] = c.n
    assert counts == {name: n for name, (n, _) in calls.items()}
    assert index_fs.read_manifest(spark, hist)["_seq"] == 1  # no rebuild


def test_rebuild_commits_its_params_with_its_state(spark, tmp_path):
    members = spark.createDataFrame(
        [(f"g{i % 2}", f"m{i}", i) for i in range(60)], "g string, s string, v long"
    )
    bloom, hist = str(tmp_path / "bloom"), str(tmp_path / "hist")
    ss.create_bloom_store(members, bloom, 63 * 2, "s")
    ss.create_hist_store(members, hist, "g", "v", 4, 8)
    ss.rebuild_bloom_store(spark, bloom, members, "s", 63 * 8)
    ss.rebuild_hist_store(spark, hist, members, "g", "v", 16)

    assert ss.read_params(spark, bloom) == {"m_bits": 63 * 8}
    assert ss.read_params(spark, bloom, as_of=0) == {"m_bits": 63 * 2}
    assert ss.read_params(spark, hist) == {"bucket_width": 16, "n_buckets": 8}
    assert ss.read_params(spark, hist, as_of=0) == {"bucket_width": 4, "n_buckets": 8}
    # the new capacity serves the rebuilt bitmap: every member hits
    hits = ss.bloom_probe(spark, bloom, members.select("s"), "s")
    assert hits.filter(F.col("bloom_hit") == 0).count() == 0
    sat = ss.bloom_saturation(spark, bloom).collect()[0]
    assert sat["m_bits"] == 63 * 8
