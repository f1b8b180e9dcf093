"""Unit tests for engine operators on small hand-built data —
mirrors the reference's unit matrix (SURVEY.md §5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqltask_spark.mapping import map_columns
from sqltask_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_near_pairs,
)
from sqltask_spark.operators.joins import asof_join, range_join_bucketed
from sqltask_spark.operators.lookup import first_wins, lookup_join
from sqltask_spark.operators.similarity import cosine_topk_brute, cosine_topk_lsh
from sqltask_spark.sources.memory import dict_source, list_source


# -- lookup (J1-J5 parity) --------------------------------------------------

def test_first_wins_dedup(spark):
    df = list_source(
        spark,
        ["k", "v", "ord"],
        [(1, "first", 1), (1, "second", 2), (2, "only", 3)],
    )
    out = {r["k"]: r["v"] for r in first_wins(df, ["k"], "ord").collect()}
    assert out == {1: "first", 2: "only"}


def test_lookup_join_miss_is_null(spark):
    probe = list_source(spark, ["k", "x"], [(1, "a"), (3, "c")])
    build = list_source(spark, ["k", "name"], [(1, "one"), (2, "two")])
    rows = {
        r["k"]: r["name"]
        for r in lookup_join(probe, build, ["k"], order_by="name").collect()
    }
    assert rows == {1: "one", 3: None}


def test_lookup_join_duplicate_keys_first_wins(spark):
    probe = list_source(spark, ["k"], [(1,)])
    build = list_source(
        spark, ["k", "name", "ord"], [(1, "newer", 2), (1, "older", 1)]
    )
    rows = lookup_join(probe, build, ["k"], order_by="ord").collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "older"


# -- sources (S3/S4 parity) -------------------------------------------------

def test_dict_and_list_sources(spark):
    d = dict_source(spark, [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    assert sorted((r["a"], r["b"]) for r in d.collect()) == [(1, "x"), (2, "y")]
    l = list_source(spark, ["a", "b"], [(1, "x"), (2, "y")])
    assert sorted((r["a"], r["b"]) for r in l.collect()) == [(1, "x"), (2, "y")]


# -- mapping (P3 parity) ----------------------------------------------------

def test_map_columns_rename_cast_func(spark):
    src = list_source(spark, ["bdate", "name"], [("2000-01-02", " Bob ")])
    schema = T.StructType(
        [
            T.StructField("birthdate", T.DateType()),
            T.StructField("name", T.StringType()),
        ]
    )
    out = map_columns(
        src,
        schema,
        mappings={"birthdate": "bdate"},
        funcs={"name": lambda c: F.trim(c)},
    ).collect()[0]
    assert str(out["birthdate"]) == "2000-01-02"
    assert out["name"] == "Bob"


def test_map_columns_missing_source_raises(spark):
    src = list_source(spark, ["a"], [(1,)])
    schema = T.StructType([T.StructField("b", T.LongType())])
    with pytest.raises(KeyError):
        map_columns(src, schema)


# -- as-of join -------------------------------------------------------------

def test_asof_join_backward(spark):
    left = list_source(
        spark, ["k", "lts", "tag"],
        [(1, 100, "a"), (1, 200, "b"), (1, 50, "c"), (2, 100, "d")],
    )
    right = list_source(
        spark, ["k", "rts", "val"],
        [(1, 90, 9.0), (1, 150, 15.0), (2, 300, 30.0)],
    )
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_cols=["val"],
    )
    got = {r["tag"]: (r["rts_right"], r["val_right"]) for r in out.collect()}
    assert got == {
        "a": (90, 9.0),     # latest right ≤ 100
        "b": (150, 15.0),   # latest right ≤ 200
        "c": (None, None),  # nothing before 50
        "d": (None, None),  # right is after left for k=2
    }


def test_asof_join_equal_ts_inclusive(spark):
    left = list_source(spark, ["k", "lts"], [(1, 100)])
    right = list_source(spark, ["k", "rts", "val"], [(1, 100, 1.0)])
    out = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_cols=["val"],
    ).collect()
    assert out[0]["val_right"] == 1.0
    strict = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        right_cols=["val"], strict=True,
    ).collect()
    assert strict[0]["val_right"] is None


def test_asof_join_tie_break_deterministic(spark):
    # three right rows share the winning timestamp; the greatest
    # tie-break value must win regardless of input/partition order
    left = list_source(spark, ["k", "lts"], [(1, 100)])
    for rows in (
        [(1, 50, 1, 10.0), (1, 50, 3, 30.0), (1, 50, 2, 20.0)],
        [(1, 50, 3, 30.0), (1, 50, 2, 20.0), (1, 50, 1, 10.0)],
    ):
        right = list_source(spark, ["k", "rts", "rid", "val"], rows)
        out = asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            right_cols=["rid", "val"], tie_break=["rid"],
        ).collect()
        assert (out[0]["rid_right"], out[0]["val_right"]) == (3, 30.0)


def test_asof_join_tie_break_unknown_column_raises(spark):
    left = list_source(spark, ["k", "lts"], [(1, 100)])
    right = list_source(spark, ["k", "rts", "val"], [(1, 50, 1.0)])
    with pytest.raises(ValueError, match="tie_break"):
        asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            right_cols=["val"], tie_break=["nope"],
        )


# -- range join -------------------------------------------------------------

def test_range_join_bucketed(spark):
    points = list_source(spark, ["k", "p"], [(1, 5), (1, 15), (1, 25)])
    intervals = list_source(
        spark, ["k", "s", "e", "tag"],
        [(1, 0, 10, "lo"), (1, 10, 20, "mid")],
    )
    out = range_join_bucketed(
        points, intervals, on=["k"], left_point="p",
        right_start="s", right_end="e", bucket_width=7,
    )
    got = sorted((r["p"], r["tag"]) for r in out.collect())
    assert got == [(5, "lo"), (15, "mid")]


# -- dedup ------------------------------------------------------------------

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog today"),      # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat today"),      # near dup of 1
    (4, "completely different text about spark query engines"),
    (5, "another unrelated document mentioning data pipelines"),
]


def _corpus(spark):
    return list_source(spark, ["doc_id", "text"], CORPUS)


def test_exact_dedup(spark):
    out = exact_dedup(_corpus(spark), "text", "doc_id").collect()
    by_kept = {r["kept_id"]: r["n_copies"] for r in out}
    assert by_kept[1] == 2          # docs 1+2 merged
    assert len(out) == 4            # 4 distinct texts


def test_minhash_finds_near_dups(spark):
    docs = _corpus(spark)
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", num_perm=64, bands=32)
    verified = jaccard_pairs(pairs, docs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert (1, 2) in got            # identical docs always collide
    assert (1, 3) in got or (2, 3) in got   # near-dup found
    assert (1, 4) not in got


def test_minhash_md5_twin_semantics(spark):
    """The md5-family twin keeps the banding contract: identical docs
    share every band (n_shared_bands == bands, jaccard == 1.0) and
    unrelated docs never pair. Cross-engine hash equality with the
    DuckDB oracle is the driver gate's job; this pins semantics."""
    from sqltask_spark.operators.dedup import minhash_dedup_pairs_md5

    docs = _corpus(spark)
    out = minhash_dedup_pairs_md5(
        docs, "doc_id", "text", num_perm=16, bands=4
    ).collect()
    got = {
        (r["id_a"], r["id_b"]): (r["n_shared_bands"], r["jaccard"])
        for r in out
    }
    assert got[(1, 2)] == (4, 1.0)  # identical docs: all bands, J=1
    assert (1, 4) not in got


def test_simhash_md5_twin_semantics(spark):
    """The md5-family SimHash twin keeps the contract: identical docs
    pair at hamming 0, unrelated docs don't pair. Cross-engine bit
    equality with the DuckDB oracle is the driver gate's job."""
    from sqltask_spark.operators.dedup import simhash_near_pairs_md5

    out = simhash_near_pairs_md5(
        _corpus(spark), "doc_id", "text", max_distance=3
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert got[(1, 2)] == 0
    assert (1, 4) not in got


def test_simhash_near_pairs(spark):
    out = simhash_near_pairs(
        _corpus(spark), "doc_id", "text", max_distance=3
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert got[(1, 2)] == 0         # identical → distance 0
    assert (1, 4) not in got


# -- similarity -------------------------------------------------------------

def test_cosine_topk_brute(spark):
    vecs = list_source(
        spark,
        ["vec_id", "embedding"],
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
            (4, [1.0, 0.05]),
        ],
    )
    out = cosine_topk_brute(
        vecs.filter(F.col("vec_id") == 1), vecs, "vec_id", "vec_id", k=2
    ).collect()
    ranked = [(r["rank"], r["neighbor_id"]) for r in out]
    assert ranked == [(1, 4), (2, 2)]


def test_cosine_topk_brute_prefilter_identical(spark, monkeypatch):
    """The two-phase (BLAS prefilter + exact verify) brute path must
    be row-identical to the single-phase all-pairs plan — including
    NULL-score classes (zero-norm, NULL and mismatched-length
    vectors), duplicated vectors (score ties), and the id tie-break.
    """
    import sqltask_spark.operators.similarity as sim

    rows = []
    for i in range(400):
        base = [((i * 37 + j * 11) % 19 - 9) / 9.0 for j in range(8)]
        rows.append((i, base))
    rows.append((400, [0.0] * 8))            # zero-norm corpus vector
    rows.append((401, None))                 # NULL vector
    rows.append((402, [1.0, 2.0]))           # mismatched length
    rows += [(403 + i, rows[5][1]) for i in range(6)]  # exact ties
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    # query set: every 6th id plus the zero-norm vector; the
    # mismatched-length row stays corpus-only (a ragged QUERY set
    # falls back to the single-phase plan by design)
    queries = corpus.filter(
        ((F.col("vec_id") % 6 == 0) | (F.col("vec_id") == 400))
        & (F.col("vec_id") != 402)
    )

    single = cosine_topk_brute(
        queries, corpus, "vec_id", "vec_id", k=5,
        max_driver_queries=None,
    )
    monkeypatch.setattr(sim, "BRUTE_PREFILTER_MIN_PAIRS", 100)
    two_phase = cosine_topk_brute(
        queries, corpus, "vec_id", "vec_id", k=5,
    )

    def key(r):
        return (r["query_id"], r["rank"], r["neighbor_id"], r["score"])

    a = sorted(map(key, single.collect()))
    b = sorted(map(key, two_phase.collect()))
    assert a == b and len(a) > 0


def test_cosine_topk_ivf_prefilter_identical(spark, monkeypatch):
    """The cell-masked prefilter (BLAS pass + exact verify over the
    probed-cell join) must be row-identical to the single-phase IVF
    plan, zero-norm rows included."""
    import sqltask_spark.operators.similarity as sim

    rows = [
        (i, [((i * 29 + j * 13) % 17 - 8) / 8.0 for j in range(8)])
        for i in range(500)
    ] + [(500, [0.0] * 8)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = corpus.filter(F.col("vec_id") % 8 == 0)
    kwargs = dict(
        query_id="vec_id", corpus_id="vec_id", k=4, n_cells=8, n_probe=3
    )
    single = sim.cosine_topk_ivf(queries, corpus, **kwargs)
    monkeypatch.setattr(sim, "BRUTE_PREFILTER_MIN_PAIRS", 10)
    two_phase = sim.cosine_topk_ivf(queries, corpus, **kwargs)

    def key(r):
        return (r["query_id"], r["rank"], r["neighbor_id"], r["score"])

    a = sorted(map(key, single.collect()))
    b = sorted(map(key, two_phase.collect()))
    assert a == b and len(a) > 0


def test_probe_ivf_prefilter_identical(spark, tmp_path, monkeypatch):
    """probe_ivf_index's prefilter path (stored cell column) must be
    row-identical to its single-phase plan."""
    import sqltask_spark.operators.ann_index as ai

    rows = [
        (i, [((i * 31 + j * 7) % 23 - 11) / 11.0 for j in range(8)])
        for i in range(400)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = corpus.filter(F.col("vec_id") % 8 == 0)
    idx = str(tmp_path / "ivf")
    ai.build_ivf_index(corpus, idx, "vec_id", "embedding", n_cells=8)
    single = ai.probe_ivf_index(
        spark, idx, queries, "vec_id", "embedding", k=4, n_probe=3
    )
    monkeypatch.setattr(ai, "BRUTE_PREFILTER_MIN_PAIRS", 10)
    two_phase = ai.probe_ivf_index(
        spark, idx, queries, "vec_id", "embedding", k=4, n_probe=3
    )

    def key(r):
        return (r["query_id"], r["rank"], r["neighbor_id"], r["score"])

    a = sorted(map(key, single.collect()))
    b = sorted(map(key, two_phase.collect()))
    assert a == b and len(a) > 0


def test_cosine_lsh_recall(spark, tables):
    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") <= 3)
    brute = cosine_topk_brute(queries, emb, "vec_id", "vec_id", k=5)
    lsh = cosine_topk_lsh(
        queries, emb, "vec_id", "vec_id", dim=64, k=5,
        n_planes=8, tables=8,
    )
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    lset = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    recall = len(bset & lset) / len(bset)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_cosine_lsh_fixed_precision_and_recall(spark, tables):
    """The oracled fixed-point LSH twin: every reported pair must be a
    true pair at the threshold (precision exact by construction —
    cosine verify), and recall against the exact blocked join stays
    usable. Cross-engine bucket equality is the driver gate's job."""
    from sqltask_spark.operators.similarity import (
        cosine_near_pairs_blocked,
        cosine_near_pairs_lsh_fixed,
    )

    emb = tables["embeddings"]
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_pairs_blocked(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_pairs_lsh_fixed(
            emb, "vec_id", "embedding", threshold=0.4,
            n_planes=4, tables=16,
        ).collect()
    }
    assert got <= exact, "false positives survived the cosine verify"
    assert exact, "test corpus has no pairs at the threshold"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, f"fixed-LSH recall too low: {recall}"


def test_ann_distributed_query_path_matches_driver_path(spark, tables):
    """max_driver_queries=None forces the no-collect distributed query
    path; results must be identical to the driver-side path (same
    probe assignment math, same scoring) for LSH, IVF, and IVF-PQ."""
    from sqltask_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivf_pq,
    )

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") <= 5)

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
            for r in df.collect()
        )

    for op, kw in (
        (cosine_topk_lsh, dict(dim=64, k=5, n_planes=8, tables=4)),
        (cosine_topk_ivf, dict(k=5, n_cells=8, n_probe=2)),
        (cosine_topk_ivf_pq, dict(k=5, n_cells=8, n_probe=2, m=8)),
    ):
        drv = rows(op(queries, emb, "vec_id", "vec_id", **kw))
        dist = rows(
            op(
                queries, emb, "vec_id", "vec_id",
                max_driver_queries=None, **kw,
            )
        )
        assert dist == drv, op.__name__


def test_ann_50k_queries_no_driver_collect(spark, tables):
    """The large-batch contract: 50k queries flow through LSH and IVF
    with max_driver_queries=None — the query set is never collected
    to the driver — and every query gets ranked results."""
    from sqltask_spark.operators.similarity import cosine_topk_ivf

    emb = tables["embeddings"]
    big_q = (
        emb.crossJoin(spark.range(100).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") * 1000 + F.col("rep")).alias("vec_id"),
            "embedding",
        )
    )  # 500 × 100 = 50k query vectors
    assert big_q.count() == 50_000

    ivf = cosine_topk_ivf(
        big_q, emb, "vec_id", "vec_id", k=3, n_cells=16, n_probe=1,
        max_driver_queries=None,
    )
    agg = ivf.agg(
        F.countDistinct("query_id").alias("nq"),
        F.max("rank").alias("maxr"),
    ).collect()[0]
    assert agg["nq"] == 50_000 and agg["maxr"] <= 3

    lsh = cosine_topk_lsh(
        big_q, emb, "vec_id", "vec_id", dim=64, k=3,
        n_planes=8, tables=2, probe_hamming=0,
        max_driver_queries=None,
    )
    n = lsh.select(F.countDistinct("query_id").alias("nq")).collect()[0]
    # LSH drops queries whose buckets are empty; the replicated set
    # shares buckets with its source vectors, so coverage stays high
    assert n["nq"] >= 45_000


# -- ngram jaccard / embedding near-dup / text fingerprints -----------------

def test_ngram_jaccard_pairs_exact(spark):
    from sqltask_spark.operators.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(
        _corpus(spark), "doc_id", "text", threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert got[(1, 2)] == 1.0       # identical docs → jaccard 1
    assert (1, 3) in got            # near dup above threshold
    assert (1, 4) not in got        # unrelated below threshold


def test_sketch_event_stats_error_bounds(spark, sf_dir):
    """HLL distinct counts within the configured rsd (with slack) of
    the exact answer; approx median between the exact p40 and p60."""
    from sqltask_spark.queries.pipeline import sketch_event_stats

    from sqltask_spark.data import load_table

    rows = {r["event_type"]: r for r in
            sketch_event_stats(spark, sf_dir).collect()}
    events = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r
        for r in events.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, array(0.4, 0.6))").alias("p46"),
        ).collect()
    }
    assert set(rows) == set(exact)
    for et, r in rows.items():
        want = exact[et]["users"]
        assert abs(r["approx_users"] - want) <= max(3, 0.1 * want)
        p40, p60 = exact[et]["p46"]
        assert p40 <= r["value_p50"] <= p60
        assert r["value_p50"] <= r["value_p95"] <= r["value_p99"]


def test_ngram_jaccard_capped_mode(spark):
    """The scale path: a boilerplate shingle shared by every document
    would make the inverted-index self-join quadratic; max_shingle_df
    drops it while pairs reachable through rarer shingles survive."""
    from sqltask_spark.operators.dedup import ngram_jaccard_pairs
    from sqltask_spark.sources.memory import list_source

    boiler = "all rights reserved by the example corporation"
    rows = [
        (i, f"unique body text number {i} {boiler}") for i in range(40)
    ] + [
        # one true near-dup pair sharing rare shingles beyond boilerplate
        (100, f"the quick brown fox jumps over the lazy dog {boiler}"),
        (101, f"the quick brown fox jumps over the lazy cat {boiler}"),
    ]
    docs = list_source(spark, ["doc_id", "text"], rows)
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, max_shingle_df=10
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (100, 101) in got  # rare-shingle pair survives the cap
    # boilerplate-only pairs are gone: nothing pairs the unique docs
    assert all(a == 100 for a, _ in got)


def test_cosine_near_pairs(spark):
    from sqltask_spark.operators.similarity import cosine_near_pairs

    vecs = list_source(
        spark,
        ["vec_id", "embedding"],
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.01]),
            (3, [0.0, 1.0]),
        ],
    )
    out = cosine_near_pairs(vecs, "vec_id", threshold=0.9).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert got == {(1, 2)}


def test_rolling_hash_and_bpe_tokens(spark):
    from sqltask_spark.operators.text import bpe_tokens, rolling_hash

    df = list_source(spark, ["id", "text"], [(1, "Hello, world 42!")])
    row = df.select(
        rolling_hash(F.col("text")).alias("rh"),
        bpe_tokens(F.col("text")).alias("toks"),
    ).first()
    # deterministic fold: h = fold('hello, world 42!', 7, h*31+code mod 1e9+7)
    h = 7
    for c in "hello, world 42!":
        h = (h * 31 + ord(c)) % 1_000_000_007
    assert row["rh"] == h
    assert row["toks"] == ["hello", ",", "world", "42", "!"]


def test_cosine_ivf_recall(spark, tables):
    from sqltask_spark.operators.similarity import cosine_topk_ivf

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") <= 3)
    brute = cosine_topk_brute(queries, emb, "vec_id", "vec_id", k=5)
    ivf = cosine_topk_ivf(
        queries, emb, "vec_id", "vec_id", k=5, n_cells=16, n_probe=8,
    )
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    iset = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(bset & iset) / len(bset)
    # spherical-k-means centroids (vs the old first-n-ids placeholder)
    # push recall well past the previous 0.5 bar
    assert recall >= 0.8, f"IVF recall too low: {recall}"


def test_cosine_ivf_pq_recall_and_exact_scores(spark, tables):
    """IVF-PQ: the ADC-refine pipeline must (a) reach the IVF recall
    bar despite scoring candidates from 8-byte codes, and (b) report
    EXACT cosines — every (query, neighbor) it returns must carry the
    same score brute force computes for that pair."""
    from sqltask_spark.operators.similarity import cosine_topk_ivf_pq

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") <= 3)
    brute = cosine_topk_brute(queries, emb, "vec_id", "vec_id", k=5)
    pq = cosine_topk_ivf_pq(
        queries, emb, "vec_id", "vec_id", k=5,
        n_cells=16, n_probe=8, m=16, pq_k=16, refine_factor=8,
    )
    bscores = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in brute.collect()
    }
    pq_rows = pq.collect()
    pset = {(r["query_id"], r["neighbor_id"]) for r in pq_rows}
    recall = len(set(bscores) & pset) / len(bscores)
    assert recall >= 0.8, f"IVF-PQ recall too low: {recall}"
    for r in pq_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in bscores:  # re-rank reported the exact cosine
            assert r["score"] == bscores[key], key


def test_parse_keyvalues_udtf(spark):
    from sqltask_spark.functions import ParseKeyValues

    spark.udtf.register("parse_kv", ParseKeyValues)
    df = list_source(
        spark, ["id", "attrs"],
        [(1, "a=1;b=2"), (2, "x = 9 ; broken ; y=z"), (3, "")],
    )
    df.createOrReplaceTempView("kv_src")
    rows = spark.sql(
        "SELECT s.id, kv.key, kv.value FROM kv_src s, "
        "LATERAL parse_kv(s.attrs) kv ORDER BY s.id, kv.key"
    ).collect()
    got = [(r["id"], r["key"], r["value"]) for r in rows]
    assert got == [
        (1, "a", "1"), (1, "b", "2"), (2, "x", "9"), (2, "y", "z"),
    ]


def test_token_chunks_cover_document(spark):
    from sqltask_spark.operators.text import token_chunks, tokenize

    df = list_source(
        spark, ["id", "text"], [(1, " ".join(f"t{i}" for i in range(100)))]
    )
    rows = (
        df.select(F.explode(token_chunks(F.col("text"), 32, 8)).alias("c"))
        .select("c.chunk_idx", "c.chunk_text")
        .collect()
    )
    # stride 24: chunks at 0,24,48,72 → 4 chunks; last token covered
    assert [r["chunk_idx"] for r in rows] == [0, 1, 2, 3]
    assert rows[0]["chunk_text"].split()[0] == "t0"
    assert rows[-1]["chunk_text"].split()[-1] == "t99"
    # consecutive chunks overlap by 8 tokens
    c0 = rows[0]["chunk_text"].split()
    c1 = rows[1]["chunk_text"].split()
    assert c0[-8:] == c1[:8]


# -- skew mitigation --------------------------------------------------------

def test_salted_join_matches_plain_join(spark):
    from sqltask_spark.operators.skew import salted_join, salted_count

    # hot key 1 dominates
    large = list_source(
        spark, ["k", "v"],
        [(1, i) for i in range(50)] + [(2, 100), (3, 200)],
    )
    small = list_source(spark, ["k", "name"], [(1, "hot"), (2, "warm")])
    plain = large.join(small, "k").select("k", "v", "name")
    salted = salted_join(large, small, ["k"], buckets=4)
    assert sorted(map(tuple, salted.select("k", "v", "name").collect())) == \
        sorted(map(tuple, plain.collect()))

    left = salted_join(large, small, ["k"], buckets=4, how="left")
    assert left.count() == large.count()
    assert left.filter(F.col("name").isNull()).count() == 1  # k=3 missed

    counts = {r["k"]: r["n_rows"] for r in
              salted_count(large, ["k"], buckets=4).collect()}
    assert counts == {1: 50, 2: 1, 3: 1}


# -- blocked / LSH embedding near-pairs + hot-bucket caps -------------------

def test_cosine_near_pairs_blocked_matches_exact(spark, tables):
    from sqltask_spark.operators.similarity import (
        cosine_near_pairs,
        cosine_near_pairs_blocked,
    )

    emb = tables["embeddings"]
    exact = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in cosine_near_pairs(emb, "vec_id", threshold=0.35).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in cosine_near_pairs_blocked(
            emb, "vec_id", threshold=0.35, n_blocks=5
        ).collect()
    }
    assert exact, "threshold too high for fixture data"
    assert blocked == exact


def test_cosine_near_pairs_lsh_precision_and_recall(spark, tables):
    from sqltask_spark.operators.similarity import (
        cosine_near_pairs,
        cosine_near_pairs_lsh,
    )

    emb = tables["embeddings"]
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_pairs(emb, "vec_id", threshold=0.35).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_pairs_lsh(
            emb, "vec_id", dim=64, threshold=0.35, n_planes=4, tables=16
        ).collect()
    }
    # exact-verify step makes precision exactly 1
    assert approx <= exact
    assert exact
    recall = len(approx) / len(exact)
    assert recall >= 0.5, f"LSH near-pair recall too low: {recall}"


def test_hot_bucket_cap_bounds_pathological_corpus(spark):
    # 60 byte-identical boilerplate docs collapse into ONE simhash
    # bucket per chunk: uncapped that is 60·59/2 pairs; capped the
    # bucket is dropped and candidates stay bounded.
    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(60)]
    rows += [(100, "a genuinely unique document about spark plans")]
    docs = list_source(spark, ["doc_id", "text"], rows)
    uncapped = simhash_near_pairs(
        docs, "doc_id", "text", max_distance=3, max_bucket_size=None
    )
    capped = simhash_near_pairs(
        docs, "doc_id", "text", max_distance=3, max_bucket_size=10
    )
    assert uncapped.count() == 60 * 59 // 2
    assert capped.count() == 0


def test_drop_hot_buckets_keeps_cool_buckets(spark):
    from sqltask_spark.operators.bucketing import (
        drop_hot_buckets,
        hot_bucket_report,
    )

    rows = [(i, 0, 7) for i in range(20)] + [(100, 1, 8), (101, 1, 8)]
    df = list_source(spark, ["id", "t", "bucket"], rows)
    kept = drop_hot_buckets(df, ["t", "bucket"], 5)
    assert {r["id"] for r in kept.collect()} == {100, 101}
    report = hot_bucket_report(df, ["t", "bucket"], 5).collect()
    assert [(r["t"], r["bucket"], r["bucket_n"]) for r in report] == [(0, 7, 20)]


def test_minhash_mega_bucket_precapped(spark):
    """Planted mega-bucket: 60 byte-identical docs collapse into ONE
    LSH bucket per band. The cap must drop that bucket BEFORE the
    collect_list aggregation materializes a 60-member array row (on a
    real corpus: millions of members, spill + 2 GB array-row limit) —
    the same pre-cap discipline the SimHash path already has. Output
    is identical to post-agg capping (same buckets dropped, earlier);
    the plan assertion pins WHERE the cap runs."""
    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(60)]
    rows += [
        (100, "a genuinely unique document about spark catalyst plans"),
        (101, "a genuinely unique document about spark catalyst planz"),
    ]
    docs = list_source(spark, ["doc_id", "text"], rows)
    capped = minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=16, bands=8, max_bucket_size=10
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the 60-doc boilerplate bucket is gone; the cool near-dup survives
    assert not any(a < 60 and b < 60 for a, b in got)
    assert (100, 101) in got
    # plan: the cap is a count-window filter BELOW the collect_list
    # aggregate (child prints after parent in top-down plan text), so
    # the aggregation input is pre-filtered
    plan = capped._jdf.queryExecution().optimizedPlan().toString()
    agg_pos = plan.index("collect_list")
    assert "windowspecdefinition" in plan
    assert plan.index("windowspecdefinition") > agg_pos


def test_minhash_contamination_mega_bucket_precapped(spark):
    """Same planted mega-bucket for the cross-corpus contamination
    screen: boilerplate shared across train/eval sides is dropped by
    the pre-agg cap, a genuine cross-side near-dup still pairs."""
    from sqltask_spark.operators.dedup import minhash_contamination_pairs_md5

    rows = [
        (i, "the same boilerplate text repeated everywhere", i % 2)
        for i in range(60)
    ]
    rows += [
        (100, "a genuinely unique document about spark catalyst plans", 0),
        (101, "a genuinely unique document about spark catalyst planz", 1),
    ]
    docs = list_source(spark, ["doc_id", "text", "side"], rows)
    out = minhash_contamination_pairs_md5(
        docs, "doc_id", "text", "side", num_perm=16, bands=8,
        max_bucket_size=10,
    )
    got = {(r["index_id"], r["probe_id"]) for r in out.collect()}
    assert not any(a < 60 and b < 60 for a, b in got)
    assert (100, 101) in got
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    agg_pos = plan.index("collect_list")
    assert "windowspecdefinition" in plan
    assert plan.index("windowspecdefinition") > agg_pos


def test_minhash_dedup_pairs_releases_cache(spark):
    from sqltask_spark.operators.dedup import minhash_dedup_pairs

    spark.catalog.clearCache()  # isolate from other tests' caches
    docs = _corpus(spark)
    out = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (1, 2) in got
    # the corpus-sized shingle intermediate must not stay cached; only
    # the small materialized pair result may remain
    jsc = spark.sparkContext._jsc.sc()
    cached = [
        info.name()
        for info in jsc.getRDDStorageInfo()
    ]
    assert len(cached) <= 1, f"leaked cached RDDs: {cached}"
    out.unpersist()


def test_connected_components_chain_and_islands(spark):
    from sqltask_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter 3), island {10,11}, self-loop 20-20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 20)],
        ["src", "dst"],
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_empty(spark):
    from sqltask_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "src LONG, dst LONG")
    assert connected_components(edges).count() == 0


def test_minhash_index_probe_matches_percall(spark, tables, tmp_path):
    from sqltask_spark.operators.dedup import minhash_dedup_pairs
    from sqltask_spark.operators.dedup_index import (
        build_minhash_index,
        probe_minhash_index,
    )

    docs = tables["documents"]
    idx = str(tmp_path / "mh_index")
    build_minhash_index(docs, idx)
    probed = probe_minhash_index(spark, idx, docs, threshold=0.5)
    got = {
        (min(r.batch_id, r.corpus_id), max(r.batch_id, r.corpus_id)): (
            r.n_shared_bands,
            round(r.jaccard, 9),
        )
        for r in probed.collect()
    }
    want = {
        (r.id_a, r.id_b): (r.n_shared_bands, round(r.jaccard, 9))
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert got == want and want  # identical pairs, non-vacuous


def test_minhash_index_screens_new_batch(spark, tables, tmp_path):
    from sqltask_spark.operators.dedup_index import (
        build_minhash_index,
        probe_minhash_index,
    )

    docs = tables["documents"]
    idx = str(tmp_path / "mh_index_b")
    build_minhash_index(docs, idx)
    base = docs.select("doc_id", "text").first()
    batch = spark.createDataFrame(
        [
            # near-dup of an indexed doc: one appended token
            (900001, base["text"] + " extra"),
            # novel doc: shares no shingles with the corpus
            (900002, "xq zz yy ww vv uu tt ss rr qq pp oo nn mm"),
        ],
        "doc_id long, text string",
    )
    hits = probe_minhash_index(spark, idx, batch, threshold=0.5).collect()
    assert {r.batch_id for r in hits} == {900001}
    assert any(r.corpus_id == base["doc_id"] for r in hits)


def test_minhash_index_append_learns_and_matches_rebuild(
    spark, tables, tmp_path
):
    """The ingest-loop admit step: screen a batch, APPEND its novel
    docs, and (a) the next batch's near-dup OF AN APPENDED DOC is
    caught — the index learned; (b) every probe against the appended
    index is bit-identical to a probe against a fresh build over the
    union corpus — append changes WHEN work happens, never WHAT the
    index contains."""
    from sqltask_spark.operators.dedup_index import (
        append_to_minhash_index,
        build_minhash_index,
        probe_minhash_index,
    )

    docs = tables["documents"]
    idx = str(tmp_path / "mh_index_app")
    build_minhash_index(docs, idx)
    novel_text = "xq zz yy ww vv uu tt ss rr qq pp oo nn mm"
    admitted = spark.createDataFrame(
        [(900002, novel_text)], "doc_id long, text string"
    )
    # pre-append: a near-dup of the (not yet indexed) novel doc passes
    probe2 = spark.createDataFrame(
        [(900003, novel_text + " extra")], "doc_id long, text string"
    )
    assert (
        probe_minhash_index(spark, idx, probe2, threshold=0.5).count() == 0
    )
    append_to_minhash_index(idx, admitted)
    hits = probe_minhash_index(spark, idx, probe2, threshold=0.5).collect()
    assert {(r.batch_id, r.corpus_id) for r in hits} == {(900003, 900002)}

    # identity: appended index ≡ fresh build over the union corpus
    idx2 = str(tmp_path / "mh_index_rebuilt")
    build_minhash_index(
        docs.select("doc_id", "text").unionByName(admitted), idx2
    )
    big_probe = docs.select("doc_id", "text").unionByName(probe2)

    def canon(path):
        return {
            (r.batch_id, r.corpus_id): (
                r.n_shared_bands,
                round(r.jaccard, 9),
            )
            for r in probe_minhash_index(
                spark, path, big_probe, threshold=0.5
            ).collect()
        }

    got, want = canon(idx), canon(idx2)
    assert got == want and want


def test_dsir_weights_favor_target_like_documents(spark):
    from sqltask_spark.operators.text import dsir_importance_weights

    finance = [
        (i, "stock bond market trade price index fund yield")
        for i in range(5)
    ]
    animals = [
        (10 + i, "cat dog pet fur paw whisker tail collar")
        for i in range(5)
    ]
    corpus = spark.createDataFrame(
        finance + animals, "doc_id long, text string"
    )
    target = spark.createDataFrame(finance, "doc_id long, text string")
    w = {
        r.doc_id: r.weight
        for r in dsir_importance_weights(
            corpus, target, "doc_id", "text"
        ).collect()
    }
    # every target-like doc out-weighs every off-target doc
    assert min(w[i] for i in range(5)) > max(w[10 + i] for i in range(5))
    # and target-like docs are upweighted in absolute terms
    assert all(w[i] > 1.0 for i in range(5))


def test_funnel_requires_strict_step_order(spark, tmp_path):
    from datetime import datetime

    from sqltask_spark.queries.events import funnel_conversion

    def ts(h):
        return datetime(2026, 1, 1, h)

    rows = [
        # user 1 completes the funnel in order
        (1, 1, "view", ts(1)), (2, 1, "click", ts(2)),
        (3, 1, "purchase", ts(3)),
        # user 2 purchases BEFORE clicking → stops at step 2
        (4, 2, "view", ts(1)), (5, 2, "purchase", ts(2)),
        (6, 2, "click", ts(3)),
        # user 3 never views → counts nowhere
        (7, 3, "click", ts(1)), (8, 3, "purchase", ts(2)),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    path = str(tmp_path / "funnel_events")
    ev.write.parquet(f"{path}/events.parquet")
    got = {
        r.step: (r.n_users, r.pct_of_first)
        for r in funnel_conversion(spark, path).collect()
    }
    assert got == {1: (2, 1.0), 2: (2, 1.0), 3: (1, 0.5)}


def test_pagerank_matches_python_reference(spark):
    from sqltask_spark.operators.graph import pagerank

    # star centered at 1 (+ a 4-5 bar): 1 must out-rank the leaves,
    # and every micro value must equal the exact integer recurrence
    raw = [(1, 2), (1, 3), (2, 3), (1, 4), (4, 5)]
    edges = spark.createDataFrame(raw, ["src", "dst"])
    got = {
        r["node"]: (r["rank_micro"], r["rank"])
        for r in pagerank(edges, n_iter=10).collect()
    }

    nbrs: dict[int, set[int]] = {}
    for u, v in raw:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    r = {n: 1_000_000 for n in nbrs}
    for _ in range(10):
        r = {
            n: 150_000
            + sum((r[u] * 85) // (100 * len(nbrs[u])) for u in nbrs[n])
            for n in nbrs
        }
    assert {n: m for n, (m, _) in got.items()} == r
    assert got[1][0] == max(m for m, _ in got.values())
    for n, (m, rank) in got.items():
        assert rank == pytest.approx(round(m / 1e6, 6))


def test_pagerank_checkpoint_mode_and_empty(spark, tmp_path):
    from sqltask_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src LONG, dst LONG")
    assert pagerank(empty, n_iter=3).count() == 0

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    ckpt = str(tmp_path / "pr_ckpt")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank(edges, n_iter=5, checkpoint_dir=ckpt).collect()
    }
    base = {
        r["node"]: r["rank_micro"]
        for r in pagerank(edges, n_iter=5).collect()
    }
    assert got == base  # reliable checkpointing never changes results
    import glob

    assert glob.glob(f"{ckpt}/**/rdd-*", recursive=True)  # really wrote


def test_cluster_documents_canonical_flags(spark):
    from sqltask_spark.operators.graph import cluster_documents

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (7, 8)], ["id_a", "id_b"]
    )
    rows = {r["doc_id"]: r for r in cluster_documents(pairs).collect()}
    assert {d: r["cluster_id"] for d, r in rows.items()} == {
        3: 3, 5: 3, 9: 3, 7: 7, 8: 7,
    }
    assert [d for d, r in sorted(rows.items()) if r["is_canonical"]] == [3, 7]


def test_dedup_clusters_capped_entry(spark, sf_dir):
    """The production (df-capped) clustering entry: every capped pair
    is also an uncapped pair, so capped clusters can only split —
    never merge — relative to the uncapped clustering; and the
    canonical-flag invariant (exactly one canonical = min member per
    cluster) holds."""
    from sqltask_spark.queries.textops import (
        dedup_clusters,
        dedup_clusters_capped,
    )

    capped = {r["doc_id"]: r for r in
              dedup_clusters_capped(spark, sf_dir).collect()}
    full = {r["doc_id"]: r["cluster_id"] for r in
            dedup_clusters(spark, sf_dir).collect()}
    assert set(capped) <= set(full)  # cap only removes candidates
    for doc_id, r in capped.items():
        # capped cluster id is itself a member doc, and all docs
        # sharing a capped cluster share the uncapped cluster too
        assert full[r["cluster_id"]] == full[doc_id]
        assert r["is_canonical"] == (r["cluster_id"] == doc_id)
    by_cluster: dict = {}
    for doc_id, r in capped.items():
        by_cluster.setdefault(r["cluster_id"], []).append(doc_id)
    for cid, members in by_cluster.items():
        assert cid == min(members)


def test_contamination_cap_bounds_boilerplate(spark, tmp_path):
    """contamination_overlap's hot-shingle cap: a boilerplate sentence
    shared by every document must not produce train x eval pairs (its
    posting list is dropped before collect_set), while a genuinely
    leaked document pair sharing rare shingles survives."""
    from sqltask_spark.queries.pipeline import contamination_overlap

    boiler = "all rights reserved by the example corporation worldwide"
    leak = "the seven secret benchmark answers are hidden in plain sight"
    rows = [
        (i, f"unique body text number {i} {boiler}") for i in range(1, 41)
    ] + [
        (101, f"train copy {leak}"),   # train: 101 % 10 != 0
        (200, f"eval copy {leak}"),    # eval: 200 % 10 == 0
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "n_chars", F.length("text")
    )
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")

    capped = contamination_overlap(spark, sf_dir, max_shingle_df=10)
    got = {(r["train_id"], r["eval_id"]) for r in capped.collect()}
    assert got == {(101, 200)}

    uncapped = contamination_overlap(spark, sf_dir, max_shingle_df=None)
    got_all = {(r["train_id"], r["eval_id"]) for r in uncapped.collect()}
    # without the cap the boilerplate shingles pair every train doc
    # with every eval doc (ids 10,20,30,40 are eval)
    assert (1, 10) in got_all and len(got_all) > 100


def test_connected_components_star_long_chain(spark):
    """A 10^4-link chain is the adversarial case for min-label
    propagation (rounds = diameter); the alternating
    large-star/small-star algorithm must converge in O(log^2 n)
    phases — we assert a generous bound of 20 and document the
    actual count in the assertion message."""
    from sqltask_spark.operators.graph import connected_components

    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    stats: dict = {}
    got = connected_components(
        edges, max_iter=25, algorithm="star", stats=stats
    )
    assert got.filter(F.col("component") != 0).count() == 0
    assert got.count() == n
    assert stats["rounds"] <= 20, f"star took {stats['rounds']} phases"


def test_connected_components_star_matches_label(spark):
    """star and label algorithms agree on a mixed graph (two blobs,
    a chain, islands, dup/self edges)."""
    import random

    from sqltask_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = []
    # dense blob on 0..9, blob on 20..24, chain 40..60, island pair
    blob = list(range(10))
    edges += [(rng.choice(blob), rng.choice(blob)) for _ in range(30)]
    edges += [(a, b) for a in range(20, 25) for b in range(20, 25)]
    edges += [(i, i + 1) for i in range(40, 60)]
    edges += [(100, 101), (101, 100), (7, 7)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    lab = {
        r["node"]: r["component"]
        for r in connected_components(df, algorithm="label").collect()
    }
    star = {
        r["node"]: r["component"]
        for r in connected_components(df, algorithm="star").collect()
    }
    assert lab == star and star[41] == 40 and star[101] == 100


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches lineage truncation to reliable
    checkpoint(): results identical and checkpoint files written."""
    import os

    from sqltask_spark.operators.graph import connected_components

    ckpt = str(tmp_path / "ckpt")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, checkpoint_dir=ckpt, algorithm="star"
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert any(os.scandir(ckpt)), "no reliable checkpoint data written"


def test_quantize_symmetric_roundtrip(spark):
    """int8 absmax quantization: values in [-127,127], absmax maps to
    ±127 exactly, zero vectors get scale 0, and reconstruction error
    is bounded by scale/2 per element (worst-case rounding)."""
    import math

    from sqltask_spark.operators.similarity import quantize_symmetric

    vecs = list_source(
        spark,
        ["vec_id", "embedding"],
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-2.0, 2.0, 1.0, -1.0]),
        ],
    )
    rows = {r["id"]: r for r in quantize_symmetric(vecs, "vec_id").collect()}
    assert rows[1]["qvec"] == [127, -64, 32, 0]
    assert rows[2]["qvec"] == [0, 0, 0, 0] and rows[2]["scale"] == 0.0
    assert rows[3]["qvec"] == [-127, 127, 64, -64]
    for vid, dim in ((1, 4), (3, 4)):
        bound = rows[vid]["scale"] / 2 * math.sqrt(dim) + 1e-12
        assert rows[vid]["recon_err"] <= bound


def test_redact_text_cascade(spark):
    """Email redaction runs before long-number redaction, so digits
    inside an email never double-count."""
    from sqltask_spark.operators.text import redact_text, redaction_counts

    docs = list_source(
        spark,
        ["doc_id", "text"],
        [(1, "Contact bob123456@example.com or call 5551234567 now")],
    )
    n_email, n_num = redaction_counts(F.col("text"))
    row = docs.select(
        redact_text(F.col("text")).alias("red"),
        n_email.alias("ne"),
        n_num.alias("nn"),
    ).first()
    assert row["red"] == "contact <email> or call <num> now"
    assert (row["ne"], row["nn"]) == (1, 1)


def test_repetition_stats_flags_degenerate_doc(spark, tmp_path):
    from sqltask_spark.queries.textops import repetition_stats

    rows = [
        (1, "spam spam spam spam spam"),          # one 2-gram x4
        (2, "the quick brown fox jumps"),         # all distinct
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "n_chars", F.length("text")
    )
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: r for r in repetition_stats(spark, sf_dir).collect()}
    assert got[1]["n_2grams"] == 4 and got[1]["n_uniq_2grams"] == 1
    assert got[1]["top_2gram_share"] == 1.0
    assert got[2]["dup_2gram_ratio"] == 0.0


def test_dedup_keep_best_prefers_quality(spark, tmp_path):
    """Survivor selection keeps the highest-quality cluster member,
    not merely the lowest id."""
    from sqltask_spark.queries.textops import dedup_keep_best

    # docs 1 and 2 are near-dups; doc 2 is longer (higher length
    # score => higher quality). doc 9 is a singleton (no row).
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base),
        (2, base + " iota kappa"),
        (9, "completely different text about unrelated topics entirely"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "n_chars", F.length("text")
    )
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    got = {r["cluster_id"]: r for r in dedup_keep_best(spark, sf_dir).collect()}
    assert set(got) == {1}
    assert got[1]["kept_id"] == 2 and got[1]["n_members"] == 2


def test_cosine_ivf_sq8_recall(spark, tables):
    """IVF-SQ8 (byte-quantized corpus codes): int8 noise on 64-dim
    unit-ish vectors is ~0.4% relative, so recall vs exact brute stays
    at the float-IVF bar."""
    from sqltask_spark.operators.similarity import cosine_topk_ivf

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") <= 3)
    brute = cosine_topk_brute(queries, emb, "vec_id", "vec_id", k=5)
    sq8 = cosine_topk_ivf(
        queries, emb, "vec_id", "vec_id", k=5, n_cells=16, n_probe=8,
        quantize_bits=8,
    )
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    qset = {(r["query_id"], r["neighbor_id"]) for r in sq8.collect()}
    recall = len(bset & qset) / len(bset)
    assert recall >= 0.8, f"IVF-SQ8 recall too low: {recall}"


def test_materialize_packs_deterministic_order(spark, tmp_path):
    """packed_text must concatenate documents in doc_id order even
    though collect_list order is shuffle-dependent — the struct
    sort_array enforces it."""
    from sqltask_spark.queries.pipeline import materialize_packs

    rows = [(i, f"doc{i} word " * 3, "s0") for i in range(20)]
    docs = (
        spark.createDataFrame(rows, ["doc_id", "text", "source"])
        .withColumn("n_chars", F.length("text"))
        .repartition(8)  # scatter so collect_list sees random order
    )
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    out = materialize_packs(spark, sf_dir).collect()
    assert out, "no packs"
    first = out[0]
    # doc0 comes first in pack 0, and docs appear in ascending order
    texts = first["packed_text"].split(" <doc> ")
    ids = [int(t.split()[0][3:]) for t in texts]
    assert ids == sorted(ids) and ids[0] == 0


def test_dedup_incremental_drops_ref_matches(spark, tmp_path):
    from sqltask_spark.queries.pipeline import dedup_incremental

    rows = [
        (0, "shared content alpha"),     # reference
        (1, "shared content alpha"),     # new, dup of ref -> dropped
        (3, "brand new content beta"),   # new, unique -> kept
        (5, "brand new content beta"),   # new, dup within batch -> dropped
        (7, "another new gamma"),        # new, unique -> kept
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "n_chars", F.length("text")
    )
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    kept = [r["doc_id"] for r in dedup_incremental(spark, sf_dir).collect()]
    assert kept == [3, 7]


def test_doc_salient_terms_picks_rarest(spark, tmp_path):
    """Salient terms = each doc's corpus-rarest tokens, df ascending
    with alphabetical tie-break — the unique token beats the shared
    ones."""
    from sqltask_spark.queries.textops import doc_salient_terms

    rows = [
        (1, "common words everywhere plus unicorn"),
        (2, "common words everywhere plus dragon"),
        (3, "common words everywhere plus dragon"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "n_chars", F.length("text")
    )
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["doc_id"], r["rank"]): (r["token"], r["df"])
        for r in doc_salient_terms(spark, sf_dir).collect()
    }
    assert got[(1, 1)] == ("unicorn", 1)   # unique to doc 1
    assert got[(2, 1)] == ("dragon", 2)    # df 2 beats the df-3 fillers
    assert got[(1, 2)][1] == 3 and got[(1, 2)][0] == "common"  # tie-break


# -- BPE merge learning -----------------------------------------------------

def test_learn_bpe_merges_textbook(spark):
    """The Sennrich toy corpus learns the textbook merge sequence:
    (e,s) → (es,t) → ... with freq-desc / lexicographic tie-break."""
    from sqltask_spark.operators.bpe import (
        apply_merge,
        encode_with_merges,
        learn_bpe_merges,
    )

    docs = spark.createDataFrame(
        [
            (
                1,
                "low low low low low lower lower newest newest newest "
                "newest newest newest widest widest widest",
            )
        ],
        ["doc_id", "text"],
    )
    merges = learn_bpe_merges(docs, n_merges=4).collect()
    got = [(r["left"], r["right"], r["merged"], r["pair_freq"]) for r in merges]
    assert got == [
        ("e", "s", "es", 9),
        ("es", "t", "est", 9),
        ("l", "o", "lo", 7),
        ("lo", "w", "low", 7),
    ]
    # greedy left-to-right overlap handling, same as reference BPE
    overlap = spark.range(1).select(
        apply_merge(F.split(F.lit("aaa"), ""), "a", "a").alias("s")
    ).collect()[0]["s"]
    assert overlap == ["aa", "a"]
    # encoding with the learned table segments a known word
    enc = encode_with_merges(
        docs, [(r["left"], r["right"]) for r in merges]
    ).collect()
    by_word = {tuple(r["tokens"]) for r in enc}
    assert ("low",) in by_word                      # fully merged
    assert ("n", "e", "w", "est") in by_word        # est merged, rest chars


def test_learn_bpe_merges_distributed_bit_identical(spark, tables):
    """The fully distributed trainer (no driver-side vocabulary,
    1-row argmax collects only, per-round localCheckpoint) produces a
    BIT-IDENTICAL merge table to the local-heap path — on the
    textbook corpus AND on the real sf documents table — and its
    plan never collects the vocabulary."""
    from sqltask_spark.operators.bpe import (
        learn_bpe_merges,
        learn_bpe_merges_distributed,
    )

    toy = spark.createDataFrame(
        [
            (
                1,
                "low low low low low lower lower newest newest newest "
                "newest newest newest widest widest widest",
            )
        ],
        ["doc_id", "text"],
    )

    def tbl(df):
        return [
            (r["rank"], r["left"], r["right"], r["merged"],
             r["pair_freq"])
            for r in df.orderBy("rank").collect()
        ]

    assert tbl(learn_bpe_merges_distributed(toy, n_merges=6)) == tbl(
        learn_bpe_merges(toy, n_merges=6)
    )
    docs = tables["documents"].limit(200)
    assert tbl(
        learn_bpe_merges_distributed(docs, n_merges=8, min_pair_freq=2)
    ) == tbl(learn_bpe_merges(docs, n_merges=8, min_pair_freq=2))


def test_learn_bpe_merges_min_freq_stops(spark):
    from sqltask_spark.operators.bpe import learn_bpe_merges

    docs = spark.createDataFrame([(1, "ab cd")], ["doc_id", "text"])
    merges = learn_bpe_merges(docs, n_merges=5, min_pair_freq=2).collect()
    assert merges == []  # every pair occurs once — below min_pair_freq


# -- semantic dedup (SemDeDup) ----------------------------------------------

def test_semdedup_prune_planted_dups(spark):
    """Exact duplicate embeddings land in the same cell and are
    pruned keep-lowest-id; orthogonal vectors all survive."""
    from sqltask_spark.operators.similarity import semdedup_prune

    dim = 8
    base = [
        (i + 1, [1.0 if j == i else 0.0 for j in range(dim)])
        for i in range(dim)
    ]
    dups = [(idx + 100, vec) for idx, vec in base]
    df = spark.createDataFrame(base + dups, ["vec_id", "embedding"])
    kept = semdedup_prune(
        df, "vec_id", "embedding", threshold=0.99, n_cells=4,
    )
    ids = sorted(r["id"] for r in kept.collect())
    assert ids == [1, 2, 3, 4, 5, 6, 7, 8]


# -- duplicated-span profile ------------------------------------------------

def test_dup_span_stats_flags_copies(spark, tmp_path):
    from sqltask_spark.queries.textops import dup_span_stats

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "one two three four five"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_dup_shingles"], r["dup_fraction"])
        for r in dup_span_stats(spark, sf_dir).collect()
    }
    assert got[1] == (3, 3, 1.0)   # every shingle shared with doc 2
    assert got[2] == (3, 3, 1.0)
    assert got[3] == (3, 0, 0.0)   # fully unique


# -- domain mixture weights -------------------------------------------------

def test_domain_mix_weights_equalizes(spark, tmp_path):
    from sqltask_spark.queries.pipeline import domain_mix_weights

    rows = [
        (1, "a b c d e f", "big"),     # 6 tokens
        (2, "a b c d e f", "big"),     # big: 12 tokens total
        (3, "x y z w", "small"),       # small: 4 tokens
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    got = {r["source"]: r for r in domain_mix_weights(spark, sf_dir).collect()}
    assert got["big"]["n_tokens"] == 12 and got["small"]["n_tokens"] == 4
    assert abs(got["big"]["token_share"] - 0.75) < 1e-9
    assert abs(got["small"]["token_share"] - 0.25) < 1e-9
    # weight = target_share / share with uniform 0.5 target
    assert abs(got["big"]["sample_weight"] - (0.5 / 0.75)) < 1e-6
    assert abs(got["small"]["sample_weight"] - 2.0) < 1e-6
    # shares always sum to 1
    assert abs(sum(r["token_share"] for r in got.values()) - 1.0) < 1e-9


def test_source_quality_cap_selects_best_per_source(spark, sf_dir):
    """Per-source quality cap: exactly min(K, |source|) survivors per
    source, every survivor's quality >= every dropped doc's quality in
    the same source, ranks dense from 1, quality non-increasing."""
    from sqltask_spark.queries.pipeline import (
        _SOURCE_CAP_K,
        source_quality_cap,
    )
    from sqltask_spark.data import load_table
    from sqltask_spark.operators import text as tx
    from pyspark.sql import functions as F

    kept = source_quality_cap(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    all_q = {
        (r["source"], r["doc_id"]): r["quality"]
        for r in docs.select(
            "source", "doc_id",
            F.round(tx.quality_score(F.col("text")), 9).alias("quality"),
        ).collect()
    }
    per_source: dict = {}
    for r in kept:
        per_source.setdefault(r["source"], []).append(r)
    src_sizes: dict = {}
    for (src, _), _q in all_q.items():
        src_sizes[src] = src_sizes.get(src, 0) + 1
    assert set(per_source) == set(src_sizes)
    for src, rows in per_source.items():
        assert len(rows) == min(_SOURCE_CAP_K, src_sizes[src])
        rows.sort(key=lambda r: r["qrank"])
        assert [r["qrank"] for r in rows] == list(range(1, len(rows) + 1))
        quals = [r["quality"] for r in rows]
        assert quals == sorted(quals, reverse=True)
        kept_ids = {r["doc_id"] for r in rows}
        floor = min(quals)
        for (s, did), q in all_q.items():
            if s == src and did not in kept_ids:
                assert q <= floor


def test_apply_mix_sampling_equalizes_and_is_deterministic(spark, tmp_path):
    """Materialized mix: big sources down-sample (copy counts 0/1),
    small ones up-sample by repetition (counts ≥1); the resampled
    per-source token totals land far closer to equal than the input;
    re-running yields the identical multiset (no RNG anywhere)."""
    from sqltask_spark.queries.pipeline import apply_mix_sampling

    rows = (
        # 60 docs × 6 tokens = 360 tokens in 'big'
        [(i, "a b c d e f", "big") for i in range(60)]
        # 15 docs × 4 tokens = 60 tokens in 'small'
        + [(100 + i, "x y z w", "small") for i in range(15)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    out = [
        (r["doc_id"], r["source"], r["copy_idx"])
        for r in apply_mix_sampling(spark, sf_dir).collect()
    ]
    tokens = {"big": 6, "small": 4}
    totals = {"big": 0, "small": 0}
    for _, src, _ in out:
        totals[src] += tokens[src]
    # input ratio 6:1; the weighted resample must be near 1:1
    ratio = totals["big"] / totals["small"]
    assert 0.6 < ratio < 1.67, totals
    # 'small' docs (weight ≈ 3.5) repeat; 'big' docs never do
    by_doc: dict = {}
    for d, src, _ in out:
        by_doc[d] = by_doc.get(d, 0) + 1
    assert max(v for d, v in by_doc.items() if d >= 100) >= 2
    assert all(v == 1 for d, v in by_doc.items() if d < 100)
    rerun = [
        (r["doc_id"], r["source"], r["copy_idx"])
        for r in apply_mix_sampling(spark, sf_dir).collect()
    ]
    assert sorted(rerun) == sorted(out)


def test_bpe_encode_udf_matches_jvm_fold(spark, tmp_path):
    """The Pandas-UDF encoder (scale path) and the chained-JVM-fold
    encoder agree word-for-word on a learned merge table."""
    from sqltask_spark.operators.bpe import (
        encode_corpus,
        encode_with_merges,
        learn_bpe_merges,
    )

    docs = spark.createDataFrame(
        [
            (1, "lowest slowest widest low slow wide newest new"),
            (2, "the newest widest lowest estimates show lowering"),
        ],
        ["doc_id", "text"],
    )
    merges = [
        (r["left"], r["right"])
        for r in learn_bpe_merges(docs, n_merges=6, min_pair_freq=1)
        .orderBy("rank")
        .collect()
    ]
    assert len(merges) == 6
    udf_rows = encode_corpus(docs, merges).collect()
    got = {}
    for r in udf_rows:
        got.setdefault(r["id"], []).append(tuple(r["tokens"]))
    # compare as multisets of per-word token tuples per doc
    jvm_rows = encode_with_merges(docs, merges).collect()
    want = {}
    for r in jvm_rows:
        want.setdefault(r["id"], []).append(tuple(r["tokens"]))
    for k in want:
        assert sorted(got[k]) == sorted(want[k])


def test_corpus_shuffle_shards_is_permutation(spark, tmp_path):
    """The deterministic shuffle is a permutation: every doc appears
    once, per-shard positions are dense 1..n, and re-running yields
    the identical order (reproducibility is the point)."""
    from sqltask_spark.queries.pipeline import corpus_shuffle_shards

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(40)], ["doc_id", "text"]
    )
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    rows1 = corpus_shuffle_shards(spark, sf_dir).collect()
    assert sorted(r["doc_id"] for r in rows1) == list(range(40))
    by_shard: dict[int, list[int]] = {}
    for r in rows1:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    rows2 = corpus_shuffle_shards(spark, sf_dir).collect()
    assert [tuple(r) for r in rows1] == [tuple(r) for r in rows2]


def test_cosine_topk_ivf_auto_cells(spark, tables):
    """n_cells=None sizes the cell count from the corpus (~sqrt n) —
    the call works end-to-end and returns a full top-k per query."""
    from sqltask_spark.operators.similarity import cosine_topk_ivf

    emb = tables["embeddings"]
    queries = emb.filter(F.col("vec_id") <= 2)
    out = cosine_topk_ivf(
        queries, emb, "vec_id", "vec_id", k=3, n_cells=None, n_probe=4
    ).collect()
    per_q: dict[int, int] = {}
    for r in out:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(v == 3 for v in per_q.values()) and len(per_q) >= 1


def test_text_queries_null_and_empty_text(spark, tmp_path):
    """NULL, empty, and whitespace-only texts must never raise (ANSI
    mode makes regex/array ops on NULL easy to get wrong) — rows
    degrade to empty token sets or drop out of token-keyed outputs."""
    from sqltask_spark.queries import QUERIES

    rows = [(1, None), (2, ""), (3, "   "), (4, "one normal document here")]
    docs = (
        spark.createDataFrame(rows, "doc_id long, text string")
        .withColumn("n_chars", F.coalesce(F.length("text"), F.lit(0)))
        .withColumn("lang", F.lit("en"))
        .withColumn("source", F.lit("s"))
    )
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    per_doc_ops = [
        "text_stats", "quality_score_documents", "doc_fingerprint",
        "lang_id_documents", "dup_span_stats", "repetition_stats",
        "token_count_bpe", "chunk_documents", "redact_documents",
        "corpus_shuffle_shards", "pack_sequences",
    ]
    for name in per_doc_ops:
        assert QUERIES[name](spark, sf_dir).count() == 4, name
    # token-keyed output: the NULL-text doc has no tokens and drops out
    assert QUERIES["doc_salient_terms"](spark, sf_dir).count() == 3
    # degenerate corpus: no repeated pair reaches min_pair_freq
    assert QUERIES["bpe_learn_merges"](spark, sf_dir).count() == 0
    # encode: only the one doc with non-empty words survives
    assert QUERIES["bpe_encode_documents"](spark, sf_dir).count() == 1
    # bigram LM: only the one ≥2-token doc trains and scores
    assert QUERIES["lm_perplexity"](spark, sf_dir).count() == 1


def test_bigram_lm_nll_matches_reference(spark):
    """Spark scores must match a pure-Python add-one bigram LM on a
    hand corpus; the noise doc (transitions unseen elsewhere, rare
    unigrams) must score strictly worse than the templated docs."""
    import math
    from collections import Counter

    from sqltask_spark.operators.text import bigram_lm_nll

    corpus = {
        1: "the cat sat on the mat",
        2: "the cat sat on the hat",
        3: "the dog sat on the mat",
        4: "zq xv qqq zz yy",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"], r["ppl"])
        for r in bigram_lm_nll(docs, "doc_id", "text").collect()
    }

    toks = {k: v.split() for k, v in corpus.items()}
    vocab_n = len({t for ts in toks.values() for t in ts})
    bgc: Counter = Counter()
    ctx: Counter = Counter()
    for ts in toks.values():
        for a, b in zip(ts, ts[1:]):
            bgc[(a, b)] += 1
            ctx[a] += 1
    for k, ts in toks.items():
        qs = [
            round(math.log((bgc[(a, b)] + 1) / (ctx[a] + vocab_n)) * 1e6)
            for a, b in zip(ts, ts[1:])
        ]
        nll = -sum(qs) / (len(qs) * 1e6)
        assert got[k][0] == len(qs)
        assert abs(got[k][1] - nll) < 1e-5, k
        assert abs(got[k][2] - math.exp(nll)) < 1e-3, k
    assert got[4][1] > max(got[k][1] for k in (1, 2, 3))


def test_duplicate_spans_coordinates(spark):
    """Two docs share a verbatim 5-token run → one span each covering
    exactly that run; a unique doc yields no spans."""
    from sqltask_spark.operators.dedup import duplicate_spans

    docs = list_source(
        spark,
        ["doc_id", "text"],
        [
            [1, "a b c d e f g h"],
            [2, "x y z d e f g h q"],
            [3, "totally unique words only appearing here"],
        ],
    )
    out = duplicate_spans(docs, "doc_id", "text", shingle_n=3).collect()
    spans = {r["doc_id"]: r for r in out}
    assert set(spans) == {1, 2}
    for d in (1, 2):
        r = spans[d]
        # shared grams "d e f"/"e f g"/"f g h" start at token 3 in both
        assert (r["start_token"], r["end_token"], r["n_dup_shingles"]) == (
            3, 7, 3,
        )
        assert r["span_idx"] == 1


def test_knn_graph_matches_per_vector_brute(spark):
    """knn_graph (blocked pair scoring + symmetrize) must equal the
    per-vector brute-force top-k with the corpus as its own query set."""
    from sqltask_spark.operators.similarity import knn_graph

    rows = [
        [i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]]
        for i in range(1, 21)
    ]
    emb = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "vec_id long, embedding array<double>"
    )
    got = {
        (r["src_id"], r["rank"], r["dst_id"], r["score"])
        for r in knn_graph(emb, "vec_id", "embedding", k=3).collect()
    }
    want = {
        (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
        for r in cosine_topk_brute(
            emb, emb, "vec_id", "vec_id", k=3
        ).collect()
    }
    assert got == want


def test_cut_spans_splices_and_preserves_keeper(spark):
    """duplicate_spans → filter-to-non-keepers → cut_spans: the
    keeper keeps its text verbatim, the other copy loses exactly the
    shared run, span-free docs pass through untouched."""
    from sqltask_spark.operators.dedup import cut_spans, duplicate_spans

    docs = list_source(
        spark,
        ["doc_id", "text"],
        [
            [1, "a b c d e f g h"],
            [2, "x y z d e f g h q"],
            [3, "totally unique words only appearing here"],
        ],
    )
    spans = duplicate_spans(docs, "doc_id", "text", shingle_n=3)
    # policy: keep the lowest doc_id's copy, cut everywhere else
    cut = cut_spans(docs, spans.filter(F.col("doc_id") != 1))
    got = {r["doc_id"]: (r["text"], r["n_tokens_removed"])
           for r in cut.collect()}
    assert got[1] == ("a b c d e f g h", 0)
    # doc 2 loses tokens 3..7 (d e f g h)
    assert got[2] == ("x y z q", 5)
    assert got[3][1] == 0


def test_cut_duplicate_spans_min_id_keeper(spark):
    """End-to-end cut: the min-doc_id owner of each duplicated
    shingle keeps its copy verbatim, later copies lose exactly the
    shared run, unique docs pass through, and a full duplicate of an
    earlier doc is cut to empty."""
    from sqltask_spark.operators.dedup import cut_duplicate_spans

    docs = list_source(
        spark,
        ["doc_id", "text"],
        [
            [1, "a b c d e f g h"],
            [2, "x y z d e f g h q"],
            [3, "totally unique words only appearing here"],
            [4, "a b c d e f g h"],
        ],
    )
    cut = cut_duplicate_spans(docs, "doc_id", "text", shingle_n=3)
    got = {r["doc_id"]: (r["text"], r["n_tokens_removed"])
           for r in cut.collect()}
    assert got[1] == ("a b c d e f g h", 0)
    assert got[2] == ("x y z q", 5)
    assert got[3] == ("totally unique words only appearing here", 0)
    assert got[4] == ("", 8)


def test_apply_mix_sampling_degenerate_sources(spark, tmp_path):
    """Defined behavior at the edges: an all-NULL-text source drops
    out entirely (NULL weight propagates to a NULL copy count, never
    a crash or an infinite weight); empty-string docs count their
    single empty token and stay sampled."""
    from sqltask_spark.queries.pipeline import apply_mix_sampling

    rows = [
        (1, "a b c", "good"),
        (2, "", "empty"),
        (3, None, "nulls"),
        (4, None, "nulls"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    out = {
        (r["doc_id"], r["copy_idx"])
        for r in apply_mix_sampling(spark, sf_dir).collect()
    }
    assert not any(d in (3, 4) for d, _ in out)
    assert any(d == 1 for d, _ in out)
    assert any(d == 2 for d, _ in out)


def test_bigram_lm_train_score_split_matches_composed(spark, tmp_path):
    """train→save→load→score must reproduce the single-pass
    bigram_lm_nll bit-for-bit on the training corpus; a NEW doc made
    of unseen bigrams backs off to the add-one floor and scores
    strictly worse than in-distribution text."""
    from sqltask_spark.operators.text import (
        BigramLM,
        bigram_lm_nll,
        score_with_bigram_lm,
        train_bigram_lm,
    )

    corpus = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the hat"),
        (3, "the dog sat on the mat"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    composed = {
        r["doc_id"]: tuple(r)[1:]
        for r in bigram_lm_nll(docs, "doc_id", "text").collect()
    }
    model = train_bigram_lm(docs, "doc_id", "text")
    model.save(str(tmp_path / "lm"))
    loaded = BigramLM.load(spark, str(tmp_path / "lm"))
    split = {
        r["doc_id"]: tuple(r)[1:]
        for r in score_with_bigram_lm(
            docs, loaded, "doc_id", "text"
        ).collect()
    }
    assert split == composed
    new = spark.createDataFrame(
        [(9, "the cat sat on the mat"), (10, "zz qq ww ee rr tt")],
        "doc_id long, text string",
    )
    scored = {
        r["doc_id"]: r["avg_nll"]
        for r in score_with_bigram_lm(new, loaded, "doc_id", "text").collect()
    }
    import math

    # fully unseen text: every bigram at the floor ln(1/V), V=7
    # ({the,cat,sat,on,mat,hat,dog})
    assert abs(scored[10] - math.log(7)) < 1e-5
    assert scored[9] < scored[10]


def test_knn_graph_cells_recall_vs_exact(spark, tables):
    """The cell-confined approximate graph must recover most of the
    exact graph's edges at modest probe depth, and every edge it
    reports must carry the exact pair cosine."""
    from sqltask_spark.operators.similarity import knn_graph, knn_graph_cells

    emb = tables["embeddings"]
    exact = {
        (r["src_id"], r["dst_id"]): r["score"]
        for r in knn_graph(emb, "vec_id", "embedding", k=3).collect()
    }
    approx = {
        (r["src_id"], r["dst_id"]): r["score"]
        for r in knn_graph_cells(
            emb, "vec_id", "embedding", k=3, n_cells=8, n_probe=4
        ).collect()
    }
    hits = set(exact) & set(approx)
    recall = len(hits) / len(exact)
    assert recall >= 0.6, f"cell-graph recall too low: {recall}"
    for e in hits:
        assert approx[e] == exact[e]


def test_random_projection_matches_numpy_reference(spark, tables):
    """Exact fixed-point equality: vq = round(v·1e6) BIGINT, S ∈
    {-1,0,+1} from the seeded Achlioptas draw, out = (vq @ S) ·
    sqrt(3/p)/1e6 rounded to 6 — bit-identical to the numpy fold."""
    import math

    import numpy as np

    from sqltask_spark.operators.similarity import (
        random_projection,
        sparse_projection_matrix,
    )

    emb = tables["embeddings"]
    rows = emb.select("vec_id", "embedding").collect()
    dim = len(rows[0]["embedding"])
    p = 16
    S = np.zeros((dim, p), dtype=np.int64)
    for i, j, s in sparse_projection_matrix(dim, p, seed=7):
        S[i, j] = s
    got = {
        (r["id"], r["j"]): r["value"]
        for r in random_projection(
            emb, "vec_id", out_dim=p, seed=7
        ).collect()
    }
    scale = math.sqrt(3.0 / p)
    n_checked = 0
    for r in rows:
        vq = np.array(
            [math.floor(float(v) * 1e6 + 0.5) for v in r["embedding"]],
            dtype=np.int64,
        )
        out = vq @ S
        for j in range(p):
            if not S[:, j].any():
                continue  # all-zero column never joins → no row
            want = round(float(out[j]) * scale / 1e6, 6)
            assert got[(r["vec_id"], j)] == want
            n_checked += 1
    assert n_checked >= len(rows) * (p - 1)


def test_random_projection_preserves_relative_distances(spark, tables):
    """JL sanity: the projection keeps near things nearer than far
    things on average (not a per-pair guarantee at p=16)."""
    import numpy as np

    from sqltask_spark.operators.similarity import random_projection

    emb = tables["embeddings"].limit(40)
    orig = {
        r["vec_id"]: np.array(r["embedding"], dtype=float)
        for r in emb.collect()
    }
    proj_rows = random_projection(emb, "vec_id", out_dim=16).collect()
    proj = {}
    for r in proj_rows:
        proj.setdefault(r["id"], {})[r["j"]] = r["value"]
    pv = {k: np.array([v.get(j, 0.0) for j in range(16)])
          for k, v in proj.items()}
    ids = sorted(orig)
    ratios = []
    for a in range(0, len(ids), 3):
        for b in range(a + 1, len(ids), 5):
            d_orig = np.linalg.norm(orig[ids[a]] - orig[ids[b]])
            d_proj = np.linalg.norm(pv[ids[a]] - pv[ids[b]])
            if d_orig > 0:
                ratios.append(d_proj / d_orig)
    ratios = np.array(ratios)
    # JL with p=16: per-pair distortion can reach ~±60%, but the
    # estimator is unbiased — the mean ratio concentrates near 1
    assert 0.8 < ratios.mean() < 1.2, f"mean ratio {ratios.mean()}"
    assert (ratios > 0.3).all() and (ratios < 2.0).all(), (
        ratios.min(), ratios.max()
    )


def test_bpe_fixed_encode_matches_python_fold(spark):
    """bpe_encode_fixed (the oracled certificate entry) agrees with a
    pure-Python greedy left-to-right merge fold — including overlap
    cases ("aaa" + (a,a)) and merges whose results feed later merges
    (th + e -> the). Pins the Spark side; the DuckDB list_reduce
    oracle is pinned against the same fold by the driver gate."""
    import hashlib
    import re

    from sqltask_spark.operators.bpe import _merge_word
    from sqltask_spark.queries.textops import (
        FIXED_BPE_MERGES,
        bpe_encode_fixed,
    )

    texts = [
        "the cat in the hat",
        "aaa aaaa themes another",
        "ers erser serser",
        "ing thing triangle",
        "x",
        "",
        "thththth era errand",
    ]
    import os
    import tempfile

    tmp = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_subtokens"], r["enc_fingerprint"])
        for r in bpe_encode_fixed(spark, tmp).collect()
    }
    for i, t in enumerate(texts):
        norm = re.sub(r"\s+", " ", t.lower()).strip(" ")
        stream = []
        for w in norm.split(" "):
            syms = list(w)
            for left, right in FIXED_BPE_MERGES:
                syms = _merge_word(syms, left, right)
            stream.extend(syms)
        want_fp = hashlib.md5(" ".join(stream).encode()).hexdigest()
        assert got[i] == (len(stream), want_fp), f"doc {i}"


def test_redact_pii_extended_cascade(spark):
    """Cascade semantics: email digits never double-count as numbers,
    dotted quads win over bare digit runs, +international shapes
    become phones, leftovers of >=6 digits become nums."""
    from sqltask_spark.operators.text import redact_pii_extended

    rows = [
        (1, "Contact Bob123456@corp.example.com or +1 (555) 123-4567"),
        (2, "server at 192.168.10.255 port 8080"),
        (3, "account 12345678 and pin 1234"),
        (4, "clean text, nothing to scrub"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = redact_pii_extended(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[cols[k].alias(k) for k in
              ("n_emails", "n_ipv4", "n_phones", "n_nums", "redacted")],
        ).collect()
    }
    assert got[1]["n_emails"] == 1
    assert got[1]["n_phones"] == 1
    assert got[1]["n_nums"] == 0        # digits consumed by email/phone
    assert "<email>" in got[1]["redacted"]
    assert "<phone>" in got[1]["redacted"]
    assert got[2]["n_ipv4"] == 1
    assert got[2]["n_nums"] == 0        # quad consumed before num rule
    assert got[3]["n_nums"] == 1        # 12345678 yes, 1234 too short
    assert got[4] ["n_emails"] + got[4]["n_ipv4"] + got[4]["n_phones"] \
        + got[4]["n_nums"] == 0


def test_script_mix_detects_dominant_script(spark):
    from sqltask_spark.operators.text import dominant_script, script_counts

    rows = [
        (1, "plain english text"),
        (2, "русский текст"),
        (3, "中文文本处理"),
        (4, "12345 67890"),
        (5, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = script_counts(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            dominant_script(F.col("text")).alias("dom"),
            counts["latin"].alias("n_latin"),
            counts["cjk"].alias("n_cjk"),
        ).collect()
    }
    assert got[1]["dom"] == "latin" and got[1]["n_latin"] == 16
    assert got[2]["dom"] == "cyrillic"
    assert got[3]["dom"] == "cjk" and got[3]["n_cjk"] == 6
    assert got[4]["dom"] == "digit"
    assert got[5]["dom"] == "none"


def test_zorder_values_interleave_and_locality(spark, sf_dir):
    """The oracled z-value entry: interleaving is the exact Morton
    pattern (checked against a Python bit-interleave on the computed
    cells), and the curve actually delivers locality — both dims'
    cell ranges within each z-value quartile are tighter than the
    full range (the property row-group skipping relies on)."""
    from sqltask_spark.queries.pipeline import zorder_values

    rows = zorder_values(spark, sf_dir).collect()

    def morton(e, u, bits=16):
        z = 0
        for i in range(bits):
            z |= ((e >> i) & 1) << (i * 2 + 1)
            z |= ((u >> i) & 1) << (i * 2)
        return z

    for r in rows[:200]:
        assert r["zvalue"] == morton(r["cell_e"], r["cell_u"]), r
    zs = sorted(rows, key=lambda r: r["zvalue"])
    q = len(zs) // 4
    full_span = (
        max(r["cell_e"] for r in zs) - min(r["cell_e"] for r in zs)
    )
    spans = []
    for b in range(4):
        part = zs[b * q:(b + 1) * q]
        spans.append(
            max(r["cell_e"] for r in part)
            - min(r["cell_e"] for r in part)
        )
    # mean per-quartile span must beat the unclustered full span
    assert sum(spans) / 4 < full_span


def test_null_and_empty_text_semantics(spark):
    """Pin the NULL/empty-text contract across the text/dedup family
    (at corpus scale null and empty documents WILL appear):

    - row-level functions propagate SQL NULL (normalize, fingerprint,
      token_count of NULL are NULL);
    - the empty string is a real value: it fingerprints to md5('')
      and dedups as its own group;
    - exact_dedup groups NULL-text docs together (SQL GROUP BY
      semantics — the DuckDB oracle does the same, so this is the
      cross-engine-stable choice);
    - MinHash collapses NULL docs into one mutual near-dup bucket
      (their shingle sets are identical singletons), consistent with
      the exact-dedup collapse.
    Callers that want nulls ignored filter them upstream — these
    semantics make that a visible choice, not an accident.
    """
    from sqltask_spark.operators.dedup import (
        exact_dedup,
        minhash_dedup_pairs,
    )
    from sqltask_spark.operators.text import (
        fingerprint_md5,
        normalize_text,
        token_count,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, ""), (5, "hello")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            normalize_text(F.col("text")).alias("norm"),
            fingerprint_md5(F.col("text")).alias("fp"),
            token_count(F.col("text")).alias("ntok"),
        ).collect()
    }
    assert rows[1]["norm"] is None and rows[1]["fp"] is None
    assert rows[1]["ntok"] is None
    assert rows[3]["fp"] == "d41d8cd98f00b204e9800998ecf8427e"

    groups = exact_dedup(df, "text", "doc_id").collect()
    by_kept = {r["kept_id"]: r for r in groups}
    assert len(groups) == 3  # nulls, empties, 'hello'
    assert by_kept[1]["n_copies"] == 2  # both nulls together
    assert by_kept[3]["n_copies"] == 2  # both empties together

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_dedup_pairs(
            df, "doc_id", "text", num_perm=16, bands=4
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0  # null docs collapse together
    assert pairs[(3, 4)] == 1.0  # empty docs collapse together
    assert (1, 3) not in pairs   # but null != empty

    # NULL-text contract for the r6 additions (ADVICE r6): PII counts
    # coalesce to 0 (not NULL / -1), redacted md5 stays NULL; script
    # counts coalesce to 0 and the dominant script is 'none' — the
    # oracles COALESCE identically, so a NULL-text doc can never flip
    # a driver hash.
    from sqltask_spark.operators.text import (
        dominant_script,
        redact_pii_extended,
        script_counts,
    )

    pii = redact_pii_extended(F.col("text"))
    sc = script_counts(F.col("text"))
    extra = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            pii["n_emails"].alias("n_emails"),
            pii["n_nums"].alias("n_nums"),
            F.md5(pii["redacted"]).alias("redacted_md5"),
            sc["latin"].alias("n_latin"),
            dominant_script(F.col("text")).alias("dom"),
        ).collect()
    }
    assert extra[1]["n_emails"] == 0 and extra[1]["n_nums"] == 0
    assert extra[1]["redacted_md5"] is None
    assert extra[1]["n_latin"] == 0 and extra[1]["dom"] == "none"
    assert extra[3]["n_emails"] == 0 and extra[3]["dom"] == "none"
    assert extra[5]["n_latin"] == 5 and extra[5]["dom"] == "latin"

    # and DuckDB's oracle SQL agrees on the same NULL/empty rows
    import duckdb

    from sqltask_spark.queries.textops import _pii_ext_sql, _script_sql

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, CAST(NULL AS VARCHAR)), (3, ''), (5, 'hello')) "
        "AS t(doc_id, text)"
    )
    pii_oracle = {r[0]: r for r in con.execute(_pii_ext_sql()).fetchall()}
    # columns: doc_id, n_emails, n_ipv4, n_phones, n_nums, redacted_md5
    assert pii_oracle[1][1:5] == (0, 0, 0, 0)
    assert pii_oracle[1][5] is None
    script_oracle = {
        r[0]: r for r in con.execute(_script_sql()).fetchall()
    }
    # columns: doc_id, n_* (sorted scripts), dominant_script
    assert script_oracle[1][-1] == "none"
    assert all(c == 0 for c in script_oracle[1][1:-1])
    assert script_oracle[3][-1] == "none"
    assert script_oracle[5][-1] == "latin"
    con.close()


def test_pps_sample_guarantees(spark, sf_dir):
    """Systematic PPS selection guarantees: at most K docs selected,
    all with tokens; any document heavier than total/K token mass
    MUST be selected (it spans a checkpoint — the deterministic
    analogue of 'certainty units' in PPS survey sampling)."""
    from sqltask_spark.queries.pipeline import (
        _PPS_K,
        pps_sample_documents,
    )
    from sqltask_spark.data import load_table
    from sqltask_spark.operators.text import token_count

    sel = pps_sample_documents(spark, sf_dir).collect()
    assert 0 < len(sel) <= _PPS_K
    assert all(r["n_tokens"] > 0 for r in sel)
    picked = {r["doc_id"] for r in sel}

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("nt")
    )
    total = docs.agg(F.sum("nt")).collect()[0][0]
    heavy = {
        r["doc_id"]
        for r in docs.filter(
            F.col("nt") * _PPS_K > F.lit(int(total))
        ).collect()
    }
    assert heavy <= picked, heavy - picked


def test_global_prefix_sum_matches_local_model(spark):
    """The two-phase distributed prefix sum equals a local running
    total for any partition count, including more partitions than
    rows (empty range partitions) and a partition count of 1."""
    from sqltask_spark.operators.prefix import global_prefix_sum

    rows = [(i, (i * 7) % 13) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(7)
    want, run = {}, 0
    for k, v in sorted(rows):
        run += v
        want[k] = run
    for parts in (1, 3, 200):
        got = {
            r["k"]: r["cum"]
            for r in global_prefix_sum(
                df, "k", "v", num_partitions=parts
            ).collect()
        }
        assert got == want, parts


def test_heavy_hitters_exact_and_layout_independent(spark):
    """Misra-Gries prune + exact verify returns EXACTLY the
    phi-heavy items (count*(k+1) > n) on a skewed stream, for any
    partition layout — the MG guarantee says candidates always
    include the true heavies, and the exact-count filter removes
    sketch noise."""
    from sqltask_spark.operators.sketches import heavy_hitters

    # 1000 rows: 'a' x400, 'b' x251, then 349 near-distinct items;
    # k=3 -> strict threshold count*4 > 1000, so 'b' (1004) is in and
    # an exactly-at-threshold item (250*4 = 1000) would be out
    rows = (
        [("a",)] * 400 + [("b",)] * 251
        + [(f"x{i}",) for i in range(349)]
    )
    df = spark.createDataFrame(rows, "item string")
    want = {("a", 400), ("b", 251)}
    for parts in (1, 4, 17):
        got = {
            (r["item"], r["n_occurrences"])
            for r in heavy_hitters(
                df.repartition(parts), "item", k=3
            ).collect()
        }
        assert got == want, (parts, got)


def test_collocation_pmi_planted_collocation_ranks_first(spark, tmp_path):
    """A planted rigid collocation (tokens that ONLY ever occur
    together) must out-PMI every free-combining pair, and the count
    floor must drop hapax bigrams entirely."""
    import itertools

    rows = []
    # background: free-combining filler tokens in rotating order
    filler = ["aa", "bb", "cc", "dd", "ee"]
    for i, perm in enumerate(itertools.permutations(filler)):
        rows.append((i, " ".join(perm)))
    # planted: 'zig zag' always adjacent, each token never elsewhere
    for j in range(5):
        rows.append((1000 + j, "zig zag " + " ".join(filler[:3])))
    # hapax pair seen once — must be floored out
    rows.append((2000, "rare pair"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tmp_path / "pmi_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.textops import collocation_pmi

    got = collocation_pmi(spark, str(out)).collect()
    assert got, "no collocations found"
    by_bigram = {r["bigram"]: r for r in got}
    assert "rare pair" not in by_bigram  # count floor
    top = max(got, key=lambda r: (r["pmi_micro"], r["bigram"]))
    assert top["bigram"] == "zig zag", top
    assert by_bigram["zig zag"]["c_bg"] == 5
    # PMI of the rigid pair: c_ab = c_a = c_b = 5 -> ln(N / 5)
    import math

    n_tot = sum(len(r[1].split()) - 1 for r in rows if len(r[1].split()) >= 2)
    want = round(math.log(n_tot / 5) * 1e6)
    assert abs(by_bigram["zig zag"]["pmi_micro"] - want) <= 1


def test_weighted_sample_wor_matches_python_model(spark, sf_dir):
    """The Efraimidis–Spirakis draw must reproduce an exact Python
    replay: md5-uniform, ln-key, micro rounding, (key DESC, doc_id)
    top-k. Keys are compared within ±1 micro-unit (libm vs Java log
    may differ in the last ulp); the SELECTED ID SET must be exact.
    Also pins the weighting property: the draw differs from both the
    unweighted-uniform draw and plain largest-w selection."""
    import hashlib
    import math
    import re

    from sqltask_spark.data import load_table
    from sqltask_spark.queries.pipeline import (
        _WSAMPLE_K,
        weighted_sample_wor,
    )

    got = weighted_sample_wor(spark, sf_dir).collect()
    assert len(got) == min(
        _WSAMPLE_K,
        load_table(spark, sf_dir, "documents")
        .filter("text IS NOT NULL")
        .count(),
    )

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    )
    model = []
    for r in rows:
        if r.text is None:
            continue
        norm = re.sub(r"\s+", " ", r.text.lower()).strip(" ")
        w = len(norm.split(" "))
        h = int(
            hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16
        )
        u = (h + 1) / float((1 << 60) + 1)
        model.append((r.doc_id, w, math.log(u) * 1e6 / w))
    model.sort(key=lambda t: (-t[2], t[0]))
    want = model[: _WSAMPLE_K]
    assert {r.doc_id for r in got} == {t[0] for t in want}
    want_keys = {t[0]: t[2] for t in want}
    for r in got:
        assert abs(r.es_key_micro - round(want_keys[r.doc_id])) <= 1
    # weighted, not uniform: the draw must differ from the unweighted
    # md5 top-k AND from deterministic largest-weight selection
    uni = sorted(model, key=lambda t: (-(t[2] * t[1]), t[0]))[:_WSAMPLE_K]
    heavy = sorted(model, key=lambda t: (-t[1], t[0]))[:_WSAMPLE_K]
    assert {r.doc_id for r in got} != {t[0] for t in uni}
    assert {r.doc_id for r in got} != {t[0] for t in heavy}


GATE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
)


def _shipped_corpora() -> list[str]:
    """Corpus dirs the boundary canaries scan: every sf* sibling of
    the GATE corpus (the one CORRECTNESS runs use, from
    SPARK_GRAFT_TEST_SF_DIR — same default as conftest) plus the
    generated sf1 dir (SPARK_GRAFT_SF1_DIR). Derived, not hardcoded,
    so the canaries cover whatever data the gate actually reads on
    this machine."""
    import glob as _glob

    parent = os.path.dirname(GATE_SF_DIR.rstrip("/"))
    dirs = sorted(
        d
        for d in _glob.glob(os.path.join(parent, "sf*"))
        if os.path.isdir(d)
    )
    if os.path.isdir(GATE_SF_DIR) and GATE_SF_DIR not in dirs:
        dirs.insert(0, GATE_SF_DIR)
    sf1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1_gen")
    if os.path.isdir(sf1) and sf1 not in dirs:
        dirs.append(sf1)
    return dirs


def _corpus_files(base: str, table: str) -> list[str]:
    """Parquet files of ``table`` under corpus ``base`` ([] when the
    table is absent — but NEVER for the gate corpus: if the gate
    corpus dir exists its tables must be readable, and any error
    below fails the canary instead of skipping it (a canary that
    silently skips the exact data the CORRECTNESS gate reads is no
    canary)."""
    import glob as _glob

    path = os.path.join(base, f"{table}.parquet")
    if not os.path.exists(path):
        if base == GATE_SF_DIR:
            raise AssertionError(
                f"gate corpus {base} exists but {table}.parquet is "
                "missing — the canary cannot cover the gate data"
            )
        return []
    if os.path.isdir(path):
        return sorted(_glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def test_weighted_sample_key_boundary_margin():
    """ROUND-boundary canary for the E-S key (VERDICT r7 #2): the key
    ROUND(ln(u)·1e6/w) is computed in double on BOTH engines, and
    libm (DuckDB/Python) vs Java Math.log may disagree by up to ~2
    ulp of ln(u) ≈ 1.4e-14 — i.e. ≤ 1.4e-8/w key units after the
    ·1e6/w scaling. A doc whose key lands closer than that to a .5
    boundary could round differently per engine and flip a driver
    hash. This scans EVERY shipped corpus doc (plus the generated
    sf1 corpus when present) and asserts dist·w > 1e-5 — ~700× the
    divergence bound (measured r8: the actual min across all four
    corpora is 6.5e-4). Pure-Python replay: libm is the same ln both
    DuckDB and CPython call, and 1e-5 ≫ any cross-libm ulp. If this
    ever fails, the key needs restating (coarser quantum or an
    integer-exact construction), not a threshold bump."""
    import hashlib
    import math
    import re

    import pyarrow.parquet as pq

    import pytest

    corpora = _shipped_corpora()
    if not corpora:
        pytest.skip("no shipped corpora on this machine")
    checked = 0
    max_w = 0
    for base in corpora:
        files = _corpus_files(base, "documents")
        for f in files:
            t = pq.read_table(f, columns=["doc_id", "text"])
            for doc_id, text in zip(
                t.column("doc_id").to_pylist(), t.column("text").to_pylist()
            ):
                if text is None:
                    continue
                norm = re.sub(r"\s+", " ", text.lower()).strip(" ")
                w = len(norm.split(" ")) if norm else 0
                if w < 1:
                    continue
                h = int(
                    hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16
                )
                u = (h + 1) / float((1 << 60) + 1)
                x = math.log(u) * 1e6 / w
                frac = x - math.floor(x)
                dist = abs(frac - 0.5)
                assert dist * w > 1e-5, (
                    f"boundary-fragile E-S key: corpus={base} "
                    f"doc_id={doc_id} w={w} key={x!r} dist={dist!r}"
                )
                checked += 1
                max_w = max(max_w, w)
    assert checked >= 1000, "canary scanned suspiciously few documents"
    # resolution regime: the micro quantum keeps the draw E-S-faithful
    # only while w << 1e6 (see the weighted_sample_wor header) — pin
    # that the shipped corpora stay far inside it
    assert max_w <= 10_000, max_w


def test_decay_weight_boundary_margin():
    """ROUND-boundary canary for event_decay_weighted_value's
    w_milli = ROUND(exp(−ln2·age/7)·1e3) (ADVICE r8): Java Math.exp
    (Spark) vs libm exp (DuckDB) may differ by ~1 ulp, i.e.
    |Δ(x·1e3)| ≤ 1e3·2.2e-16 ≈ 2.2e-13 absolute on the milli weight.
    Scans every shipped corpus event's distance from its weight to
    the nearest .5 milli boundary and asserts > 1e-9 — ~4,500× the
    divergence bound (measured r9: actual min across all corpora is
    5.2e-6). The age term (whole-second diff / 86400, × a shared
    float literal) is bit-identical across engines — only the exp
    call can diverge. Mirrors test_weighted_sample_key_boundary_
    margin; a failure means the weight needs restating, not a
    threshold bump."""
    import math

    import pyarrow.parquet as pq

    import pytest

    from sqltask_spark.queries.events import (
        _DECAY_HALF_LIFE_DAYS,
        _DECAY_LN2,
    )

    corpora = _shipped_corpora()
    if not corpora:
        pytest.skip("no shipped corpora on this machine")
    factor = -_DECAY_LN2 / _DECAY_HALF_LIFE_DAYS
    checked = 0
    for base in corpora:
        files = _corpus_files(base, "events")
        tss = []
        for f in files:
            tss.extend(
                pq.read_table(f, columns=["ts"]).column("ts").to_pylist()
            )
        if not tss:
            continue
        anchor = max(tss)
        for t in tss:
            # whole-second age, the pinned unix_timestamp ≡
            # FLOOR(epoch) contract (tz-independent as a difference)
            age_days = int((anchor - t).total_seconds()) / 86400.0
            x = math.exp(age_days * factor) * 1e3
            frac = x - math.floor(x)
            dist = abs(frac - 0.5)
            assert dist > 1e-9, (
                f"boundary-fragile decay weight: corpus={base} "
                f"age_days={age_days!r} w_milli={x!r} dist={dist!r}"
            )
            checked += 1
    assert checked >= 1000, "canary scanned suspiciously few events"


def test_event_key_skew_profile_planted(spark, tmp_path):
    """Skew arithmetic on a planted distribution: a type where one
    user owns 8 of 10 events scores (8·1e6) div (10 div 3 users) =
    2,666,666; a perfectly uniform type scores exactly 1e6."""
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for i in range(8):
        rows.append((i, t0, 1, "hot", 1.0, None))
    rows.append((8, t0, 2, "hot", 1.0, None))
    rows.append((9, t0, 3, "hot", 1.0, None))
    for i, u in enumerate([10, 10, 11, 11]):
        rows.append((20 + i, t0, u, "flat", 1.0, None))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = tmp_path / "skew_sf"
    df.write.parquet(str(out / "events.parquet"))

    from sqltask_spark.queries.events import event_key_skew_profile

    got = {r["event_type"]: r for r in event_key_skew_profile(
        spark, str(out)
    ).collect()}
    hot, flat = got["hot"], got["flat"]
    assert (hot["n_events"], hot["n_users"], hot["max_user_events"]) == (
        10, 3, 8,
    )
    assert hot["skew_ratio_micro"] == 2_666_666
    assert flat["skew_ratio_micro"] == 1_000_000


def test_event_decay_weighted_value_planted(spark, tmp_path):
    """Half-life arithmetic on planted ages: an event AT the anchor
    weighs 1000 milli, one exactly 7 days old weighs 500, one 14 days
    old weighs 250 — value 2.0 each gives decayed micro sum
    2000·(1000+500+250) = 3,500,000."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, t0, 1, "buy", 2.0, None),
        (2, t0 - dt.timedelta(days=7), 2, "buy", 2.0, None),
        (3, t0 - dt.timedelta(days=14), 3, "buy", 2.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = tmp_path / "decay_sf"
    df.write.parquet(str(out / "events.parquet"))

    from sqltask_spark.queries.events import event_decay_weighted_value

    r = event_decay_weighted_value(spark, str(out)).collect()[0]
    assert r["n_events"] == 3
    assert r["value_milli"] == 6000
    assert r["decayed_value_micro"] == 2000 * (1000 + 500 + 250)


def test_minhash_calibration_planted_and_bounded(spark, sf_dir, tmp_path):
    """Exact duplicates must calibrate perfectly (every permutation
    min matches → estimate 1e6, exact 1e6, error 0, the dedicated
    decile-10 bucket); and on the corpus fixture every bucket's mean
    |estimate − exact| must stay within the 32-permutation sampling
    bound (σ ≤ 0.09 → mean error well under 0.15)."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "one two three four five six seven eight nine"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tmp_path / "cal_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.textops import dedup_minhash_calibration

    got = {r["jac_decile"]: r for r in dedup_minhash_calibration(
        spark, str(out)
    ).collect()}
    ten = got[10]
    assert ten["n_pairs"] == 1
    assert ten["mean_est_micro"] == 1_000_000
    assert ten["mean_jac_micro"] == 1_000_000
    assert ten["mean_abs_err_micro"] == 0
    # the fully-distinct doc 3 must not appear in any candidate pair
    assert sum(r["n_pairs"] for r in got.values()) == 1

    for r in dedup_minhash_calibration(spark, sf_dir).collect():
        assert r["mean_abs_err_micro"] < 150_000, r


def test_source_token_quantiles_planted(spark, tmp_path):
    """Type-7 interpolation on a hand-checkable ladder: counts 1..5
    give p25=2, p50=3, p90=4.6; a NULL-text doc is excluded from the
    distribution entirely."""
    rows = [(i, " ".join(["w"] * i), "A") for i in range(1, 6)]
    rows.append((99, None, "A"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tmp_path / "q_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import source_token_quantiles

    got = source_token_quantiles(spark, str(out)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_docs"], r["min_tokens"], r["max_tokens"]) == (5, 1, 5)
    assert (r["p25_tokens"], r["p50_tokens"]) == (2.0, 3.0)
    assert abs(r["p90_tokens"] - 4.6) < 1e-12


def test_source_token_quantiles_approx_rank_bound(spark, sf_dir):
    """The GK-sketch twin honors its contract on the corpus fixture:
    every approximate quantile is an OBSERVED value whose rank in the
    source's sorted counts is within n/accuracy + 1 of the target
    rank (accuracy 10000 → effectively exact at test scale), and the
    quantiles are monotone between the exact min/max."""
    from pyspark.sql import functions as F

    from sqltask_spark.data import load_table
    from sqltask_spark.operators import text as tx
    from sqltask_spark.queries.pipeline import (
        source_token_quantiles_approx,
    )

    docs = load_table(spark, sf_dir, "documents")
    vals: dict[str, list[int]] = {}
    for r in (
        docs.select(
            "source",
            tx.token_count(F.col("text")).cast("long").alias("w"),
        )
        .filter("w IS NOT NULL")
        .collect()
    ):
        vals.setdefault(r["source"], []).append(r["w"])
    got = source_token_quantiles_approx(spark, sf_dir).collect()
    assert len(got) == len(vals)
    for r in got:
        xs = sorted(vals[r["source"]])
        n = len(xs)
        assert r["n_docs"] == n
        assert r["min_tokens"] == xs[0] and r["max_tokens"] == xs[-1]
        assert (
            xs[0]
            <= r["p25_tokens"]
            <= r["p50_tokens"]
            <= r["p90_tokens"]
            <= xs[-1]
        )
        for q, v in (
            (0.25, r["p25_tokens"]),
            (0.5, r["p50_tokens"]),
            (0.9, r["p90_tokens"]),
        ):
            assert v in xs, "GK must return an observed value"
            lo = xs.index(v)
            hi = n - 1 - xs[::-1].index(v)
            target = q * (n - 1)
            tol = n / 10_000 + 1
            assert lo - tol <= target <= hi + tol, (
                r["source"], q, v, lo, hi, target,
            )


def test_quality_filter_adaptive_planted(spark, tmp_path):
    """Counts 1..10 in one source: p10 = 1.9, so exactly the 1-token
    doc is dropped — 9/10 kept, kept share 900000 micro, token sums
    exact."""
    rows = [(i, " ".join(["w"] * i), "A") for i in range(1, 11)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tmp_path / "qf_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import quality_filter_adaptive

    r = quality_filter_adaptive(spark, str(out)).collect()[0]
    assert abs(r["thr_p10"] - 1.9) < 1e-12
    assert (r["n_docs"], r["n_kept"]) == (10, 9)
    assert (r["tokens_total"], r["tokens_kept"]) == (55, 54)
    assert r["kept_share_micro"] == 900_000


def test_source_unigram_entropy_planted(spark, tmp_path):
    """Three regimes hand-computed in milli-nats: uniform 4-token
    vocab → ln(4)≈1386; a single repeated token → 0; a 2:1 mix →
    ln(3) − (2·ln 2)/3 ≈ 637 (fixed-point replay: 1099 − 462)."""
    rows = [
        (1, "a b c d", "uniform"),
        (2, "x x x x", "degenerate"),
        (3, "a a b", "mixed"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tmp_path / "ent_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import source_unigram_entropy

    got = {r["source"]: r for r in source_unigram_entropy(
        spark, str(out)
    ).collect()}
    assert got["uniform"]["entropy_millinat"] == 1386
    assert got["uniform"]["n_distinct"] == 4
    assert got["degenerate"]["entropy_millinat"] == 0
    assert got["degenerate"]["n_distinct"] == 1
    # 2:1 mix: ROUND(ln3*1e3)=1099 minus (2*ROUND(ln2*1e3)) div 3 = 462
    assert got["mixed"]["entropy_millinat"] == 1099 - 462
    assert got["mixed"]["n_tokens"] == 3


def test_dup_rate_by_source_planted(spark, tmp_path):
    """Keeper attribution and cross-source accounting: fingerprint
    't1' spans sources A (docs 1,2 — keeper 1) and B (doc 4): A has
    one dup (doc 2) and two cross-participants; B's copy is a dup
    AND cross. A NULL-text doc fingerprints to '' and stays counted
    in n_docs without inventing duplicates."""
    rows = [
        (1, "t1", "A"),
        (2, "t1", "A"),
        (3, "t2", "A"),
        (6, None, "A"),
        (4, "t1", "B"),
        (5, "t3", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tmp_path / "dup_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import dup_rate_by_source

    got = {r["source"]: r for r in dup_rate_by_source(
        spark, str(out)
    ).collect()}
    a, b = got["A"], got["B"]
    assert (a["n_docs"], a["n_dup_docs"], a["n_cross_docs"]) == (4, 1, 2)
    assert a["dup_rate_micro"] == 250_000
    assert (b["n_docs"], b["n_dup_docs"], b["n_cross_docs"]) == (2, 1, 1)
    assert b["dup_rate_micro"] == 500_000


def test_r8_entries_tolerate_empty_corpus(spark, tmp_path):
    """A 100 TB pipeline routinely produces empty slices (a filter
    that matches nothing, a new source with no docs yet) — every r8
    documents-table entry must return an EMPTY result on an empty
    corpus, not throw (empty-group percentiles, ln of nothing,
    zero-pair joins, empty top-k are all exercised)."""
    empty = spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    out = tmp_path / "empty_sf"
    empty.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import (
        dup_rate_by_source,
        quality_filter_adaptive,
        source_overlap_matrix,
        source_token_quantiles,
        source_token_quantiles_approx,
        source_unigram_entropy,
        weighted_sample_wor,
    )
    from sqltask_spark.queries.textops import (
        dedup_minhash_calibration,
        source_near_overlap_matrix,
        tokenizer_fertility,
    )

    for fn in (
        source_token_quantiles,
        source_token_quantiles_approx,
        quality_filter_adaptive,
        source_unigram_entropy,
        dup_rate_by_source,
        source_overlap_matrix,
        source_near_overlap_matrix,
        dedup_minhash_calibration,
        weighted_sample_wor,
        tokenizer_fertility,
    ):
        assert fn(spark, str(out)).count() == 0, fn.__name__


def test_source_near_overlap_matrix_planted(spark, tmp_path):
    """A lightly-edited cross-source mirror (one appended token,
    Jaccard 8/9 ≈ 0.889) must appear as an (A,B) near-overlap pair
    with the exact micro Jaccard 888889; the unrelated doc pairs with
    nothing. Exact duplicates within one source land on the diagonal
    (A,A) at 1e6."""
    base = "a b c d e f g h i j"
    rows = [
        (1, base, "A"),
        (2, base, "A"),                 # exact dup within A
        (3, base + " xx", "B"),         # near-dup mirror in B
        (4, "q w e r t y u i o p", "C"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tmp_path / "novl_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.textops import source_near_overlap_matrix

    got = {(r["src_a"], r["src_b"]): r for r in source_near_overlap_matrix(
        spark, str(out)
    ).collect()}
    assert ("A", "A") in got and got[("A", "A")]["mean_jac_micro"] == 1_000_000
    ab = got[("A", "B")]
    assert ab["n_pairs"] == 2  # docs 1 and 2 each pair with doc 3
    assert ab["mean_jac_micro"] == 888_889  # ROUND(8e6/9) per pair
    assert all("C" not in k for k in got)


def test_source_overlap_matrix_planted(spark, tmp_path):
    """Pair accounting on a planted overlap: text t1 lives in A(×2)
    and B(×1) → (A,B) shares 1 fingerprint across 3 docs; t2 lives in
    A and C → (A,C) shares 1 across 2; B and C share nothing. Two
    NULL-text docs in different sources must NOT fabricate an
    overlap. (The shipped sf0.01 corpus has zero cross-source exact
    dups — the oracled gate there proves the empty case; sf0.1 has 8
    shared fingerprints and gates non-empty.)"""
    rows = [
        (1, "t1", "A"),
        (2, "t1", "A"),
        (3, "t2", "A"),
        (4, "t1", "B"),
        (5, None, "B"),
        (6, "t2", "C"),
        (7, None, "C"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tmp_path / "ovl_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import source_overlap_matrix

    got = {(r["src_a"], r["src_b"]): r for r in source_overlap_matrix(
        spark, str(out)
    ).collect()}
    assert set(got) == {("A", "B"), ("A", "C")}
    ab, ac = got[("A", "B")], got[("A", "C")]
    assert (ab["n_shared_fps"], ab["n_docs_involved"]) == (1, 3)
    assert (ac["n_shared_fps"], ac["n_docs_involved"]) == (1, 2)


def test_corpus_diff_snapshot_planted_statuses(spark, tmp_path):
    """Every status class planted by id arithmetic: removed (id%11=3),
    modified (id%13=5), added derivative (id%17=2), unchanged
    otherwise; a NULL-text doc must reconcile as unchanged (null-safe
    fingerprint compare), never as modified."""
    rows = [
        (1, "alpha beta"),        # unchanged (2 tokens)
        (2, "gamma"),             # unchanged + spawns an added doc
                                  # (id 2 + max_id+1 = 15 — disjoint)
        (3, "will vanish"),       # removed (3 % 11 == 3)
        (5, "edit me now"),       # modified (5 % 13 == 5)
        (12, None),               # NULL text -> unchanged
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tmp_path / "diff_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import corpus_diff_snapshot

    got = {r["status"]: r for r in corpus_diff_snapshot(
        spark, str(out)
    ).collect()}
    assert got["removed"]["n_docs"] == 1
    assert got["removed"]["n_tokens_old"] == 2
    assert got["removed"]["n_tokens_new"] == 0
    assert got["modified"]["n_docs"] == 1
    assert got["modified"]["n_tokens_old"] == 3   # 'edit me now'
    assert got["modified"]["n_tokens_new"] == 4   # + 'updated'
    assert got["added"]["n_docs"] == 1
    assert got["added"]["n_tokens_old"] == 0
    assert got["added"]["n_tokens_new"] == 3      # 'new revision gamma'
    # unchanged: ids 1, 2, and the NULL-text 12
    assert got["unchanged"]["n_docs"] == 3
    assert got["unchanged"]["n_tokens_old"] == 3  # 2 + 1 + 0
    assert got["unchanged"]["n_tokens_new"] == 3


def test_tokenizer_fertility_exact_on_planted_corpus(spark, tmp_path):
    """Fertility under the fixed merge table, verified against a
    hand-computed encoding: 'the' folds to one symbol ((t,h) then
    (th,e)), 'zz' stays two chars (no z merges). Also pins: fertility
    is >= 1e6 (every word is at least one symbol), NULL-text docs
    count 0 words / 0 subwords but still count as docs."""
    rows = [
        (1, "the the", "en"),   # 2 words -> 1 + 1 subwords
        (2, "zz", "en"),        # 1 word  -> 2 subwords (z z)
        (3, None, "xx"),        # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = tmp_path / "fert_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.textops import tokenizer_fertility

    got = {r["lang"]: r for r in tokenizer_fertility(
        spark, str(out)
    ).collect()}
    en = got["en"]
    assert en["n_docs"] == 2
    assert en["n_words"] == 3
    assert en["n_subwords"] == 4  # th|e->the, the, z z
    assert en["fertility_micro"] == (4 * 1_000_000) // 3
    assert en["fertility_micro"] >= 1_000_000
    xx = got["xx"]
    assert xx["n_docs"] == 1
    assert xx["n_words"] == 0 and xx["n_subwords"] == 0
    assert xx["fertility_micro"] is None


def test_fertility_learned_identity_on_fixed_table(spark, sf_dir):
    """The learned-path pipeline (Arrow-batched encode_corpus +
    per-doc re-join aggregation) must reproduce tokenizer_fertility's
    JVM-fold output EXACTLY when handed the same FIXED_BPE_MERGES
    table — the certificate that the production twin's encoder and
    aggregation shape compute the identical metric, differing only in
    which merge table they apply."""
    from pyspark.sql import functions as F

    from sqltask_spark.data import load_table
    from sqltask_spark.operators.bpe import encode_corpus
    from sqltask_spark.queries.textops import (
        FIXED_BPE_MERGES,
        tokenizer_fertility,
    )

    docs = load_table(spark, sf_dir, "documents")
    enc = encode_corpus(docs, list(FIXED_BPE_MERGES))
    per_doc = enc.groupBy("id").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum(F.size("tokens")).alias("s"),
    )
    got = (
        docs.select("doc_id", "lang")
        .join(per_doc, docs["doc_id"] == per_doc["id"], "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("w", F.lit(0))).cast("long").alias("n_words"),
            F.sum(F.coalesce("s", F.lit(0)))
            .cast("long")
            .alias("n_subwords"),
        )
        .orderBy("lang")
        .collect()
    )
    want = tokenizer_fertility(spark, sf_dir).orderBy("lang").collect()
    assert [
        (r["lang"], r["n_docs"], r["n_words"], r["n_subwords"])
        for r in got
    ] == [
        (r["lang"], r["n_docs"], r["n_words"], r["n_subwords"])
        for r in want
    ]


def test_tokenizer_fertility_learned_sanity(spark, sf_dir):
    """The learned-table entry runs end-to-end: per-lang rows cover
    every language, n_words matches the table-independent word count
    of the fixed entry, every word is >= 1 subword, and the learned
    table compresses at least as well as no table at all (subwords
    <= characters)."""
    from sqltask_spark.queries.textops import (
        tokenizer_fertility,
        tokenizer_fertility_learned,
    )

    got = {
        r["lang"]: r
        for r in tokenizer_fertility_learned(spark, sf_dir).collect()
    }
    fixed = {
        r["lang"]: r for r in tokenizer_fertility(spark, sf_dir).collect()
    }
    assert set(got) == set(fixed)
    for lang, r in got.items():
        assert r["n_docs"] == fixed[lang]["n_docs"]
        assert r["n_words"] == fixed[lang]["n_words"]
        if r["n_words"] > 0:
            assert r["n_subwords"] >= r["n_words"]
            assert r["fertility_micro"] >= 1_000_000


def test_eval_ngram_coverage_planted(spark, tmp_path):
    """Coverage semantics on a planted split (eval = doc_id % 10 == 0):
    an eval doc copied verbatim from train scores 1.0; a fully novel
    one scores 0; a half-overlapping one lands strictly between."""
    train_text = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, train_text),                       # train
        (3, "one two three four five six"),    # train
        (10, train_text),                      # eval: full copy -> 1.0
        (20, "novel words only here today friend"),  # eval: 0.0
        # eval: first 4 tokens shared with train doc 1, last 4 novel
        (30, "alpha beta gamma delta qq ww ee rr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tmp_path / "cov_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import eval_ngram_coverage

    got = {r["eval_id"]: r for r in eval_ngram_coverage(
        spark, str(out)
    ).collect()}
    assert got[10]["coverage_micro"] == 1_000_000
    assert got[10]["n_shingles"] == 4  # 6 tokens -> 4 distinct 3-grams
    assert got[20]["coverage_micro"] == 0
    # doc 30: shingles = 6 trigrams; covered = the 2 fully inside the
    # shared prefix ('alpha beta gamma', 'beta gamma delta')
    assert got[30]["n_shingles"] == 6
    assert got[30]["n_covered"] == 2
    assert got[30]["coverage_micro"] == (2 * 1_000_000) // 6


def test_contamination_bloom_planted(spark, tmp_path):
    """Planted leak: train doc 1 is a verbatim copy of eval doc 10
    (>= _MIN_SHARED shared shingles -> flagged by BOTH screens);
    train doc 2 is fully novel (0 exact hits). The Bloom guarantee
    rides in the output: zero false negatives, bloom hits a superset
    of exact hits, flag counts monotone."""
    leaked = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (10, leaked, "A"),                                   # eval
        (1, leaked, "A"),                                    # train: leak
        (2, "one two three four five six seven eight", "A"),  # train: novel
        (3, "red green blue cyan magenta yellow black white", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tmp_path / "bloom_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import contamination_bloom

    got = {r["source"]: r for r in contamination_bloom(
        spark, str(out)
    ).collect()}
    a = got["A"]
    # doc 1 shares all 8 of eval doc 10's trigrams -> flagged exact
    assert a["n_flagged_exact"] == 1
    assert a["n_exact_hits"] == 8
    for row in got.values():
        assert row["n_false_neg"] == 0
        assert row["n_bloom_hits"] >= row["n_exact_hits"]
        assert row["n_flagged_bloom"] >= row["n_flagged_exact"]
        assert row["n_false_pos"] == row["n_bloom_hits"] - row["n_exact_hits"]


def test_contamination_bloom_invariants_real_corpus(spark, sf_dir):
    """On the real corpus: the no-false-negative guarantee holds for
    every source, and the measured shingle-level fp rate stays inside
    the design envelope of the (k=2, 10 bits/element) configuration
    (theory ~3.3%; assert < 10% to stay host/corpus-agnostic)."""
    from sqltask_spark.queries.pipeline import contamination_bloom

    rows = contamination_bloom(spark, sf_dir).collect()
    assert rows, "corpus should produce at least one source row"
    n_probe = sum(r["n_probe_shingles"] for r in rows)
    n_fp = sum(r["n_false_pos"] for r in rows)
    assert all(r["n_false_neg"] == 0 for r in rows)
    assert n_fp * 10 < n_probe  # fp rate < 10%


def test_source_distinct_hll_matches_python_model(spark, tmp_path):
    """Cross-implementation pin: replicate the full register pipeline
    (md5 -> idx/rank -> max-merge -> integer estimator) in plain
    Python over a planted corpus and require BIT-EQUAL est_milli,
    sum_rho and n_zero_registers from the Spark entry."""
    import hashlib

    texts = [(i, f"planted document number {i}", "A" if i % 2 else "B")
             for i in range(1, 301)]
    df = spark.createDataFrame(
        texts, "doc_id long, text string, source string"
    )
    out = tmp_path / "hll_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import (
        _HLL_M,
        _HLL_NUM,
        _HLL_RHO_CAP,
        source_distinct_hll,
    )

    def model(rows):
        regs: dict[int, int] = {}
        fps = set()
        for t in rows:
            fp = hashlib.md5(t.encode()).hexdigest()
            fps.add(fp)
        for fp in fps:
            idx = int(fp[:2], 16)
            w = int(fp[2:12], 16)
            rho = _HLL_RHO_CAP if w == 0 else min(
                41 - w.bit_length(), _HLL_RHO_CAP
            )
            regs[idx] = max(regs.get(idx, 0), rho)
        s = sum(1 << (_HLL_RHO_CAP - r) for r in regs.values())
        s += (_HLL_M - len(regs)) * (1 << _HLL_RHO_CAP)
        return {
            "n_exact": len(fps),
            "n_zero_registers": _HLL_M - len(regs),
            "sum_rho": sum(regs.values()),
            "est_milli": _HLL_NUM // (1000 * s),
        }

    got = {r["source"]: r for r in source_distinct_hll(
        spark, str(out)
    ).collect()}
    for src, sel in (
        ("A", lambda t: t[2] == "A"),
        ("B", lambda t: t[2] == "B"),
        ("__ALL__", lambda t: True),
    ):
        want = model([t[1] for t in texts if sel(t)])
        for k, v in want.items():
            assert got[src][k] == v, (src, k, got[src][k], v)


def test_source_distinct_hll_accuracy_at_scale(spark, tmp_path):
    """The raw estimator's contract where it applies (n >> 2.5m):
    20k distinct docs (each written twice -> distinctness matters)
    estimate within 20 percent (m=256 -> sigma ~6.5%; 20% ~ 3 sigma),
    and the row is NOT marked small-range."""
    base = spark.range(1, 20_001).selectExpr(
        "id AS doc_id",
        "concat('unique content string ', id) AS text",
        "'big' AS source",
    )
    dup = base.selectExpr("doc_id + 100000 AS doc_id", "text", "source")
    out = tmp_path / "hll_big_sf"
    base.unionByName(dup).write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import source_distinct_hll

    got = {r["source"]: r for r in source_distinct_hll(
        spark, str(out)
    ).collect()}
    row = got["big"]
    assert row["n_exact"] == 20_000
    assert row["err_permille"] < 200
    assert row["lc_regime"] == 0
    # merged __ALL__ over one source == that source's sketch
    assert got["__ALL__"]["est_milli"] == row["est_milli"]


def test_bloom_and_hll_tolerate_empty_corpus(spark, tmp_path):
    empty = spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    out = tmp_path / "empty_sf9"
    empty.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import (
        contamination_bloom,
        source_distinct_hll,
    )

    assert contamination_bloom(spark, str(out)).count() == 0
    assert source_distinct_hll(spark, str(out)).count() == 0


def test_scd2_user_state_planted(spark, tmp_path):
    """SCD2 semantics on a planted history: consecutive duplicate
    states collapse into one version, intervals chain exactly
    (valid_to == next valid_from), the last version is open-ended
    and is_current, and a ts tie breaks by event_id."""
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: A, A (re-assert - no new version), B, back to A
        (1, t(0), 1, "A", 1.0, None),
        (2, t(5), 1, "A", 1.0, None),
        (3, t(10), 1, "B", 1.0, None),
        (4, t(20), 1, "A", 1.0, None),
        # user 2: tie on ts -> event_id orders C before D
        (5, t(0), 2, "C", 1.0, None),
        (6, t(0), 2, "D", 1.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = tmp_path / "scd2_sf"
    df.write.parquet(str(out / "events.parquet"))

    from sqltask_spark.queries.events import scd2_user_state

    got = scd2_user_state(spark, str(out)).collect()
    u1 = [r for r in got if r["user_id"] == 1]
    assert [(r["state"], r["version"]) for r in u1] == [
        ("A", 1), ("B", 2), ("A", 3),
    ]
    assert u1[0]["valid_from"] == t(0) and u1[0]["valid_to"] == t(10)
    assert u1[1]["valid_from"] == t(10) and u1[1]["valid_to"] == t(20)
    assert u1[2]["valid_to"] is None and u1[2]["is_current"] == 1
    assert [r["is_current"] for r in u1] == [0, 0, 1]
    u2 = [r for r in got if r["user_id"] == 2]
    assert [(r["state"], r["version"]) for r in u2] == [("C", 1), ("D", 2)]
    assert u2[0]["valid_to"] == t(0)  # zero-length first interval: tie


def test_customer_rfm_segments_planted(spark, tmp_path):
    """Exact quintile arithmetic on a planted distribution: five
    customers with f = m-rank = 1..5 and identical recency. Type-7
    thresholds of [1..5] at (.2,.4,.6,.8) are (1.8,2.6,3.4,4.2), so
    f_score/m_score == the rank exactly; identical r_days make every
    r_score 5, so ranks 4-5 are champions and the rest graded by the
    priority CASE."""
    import datetime as dt

    rows = []
    oid = 0
    for cust in range(1, 6):
        for k in range(cust):  # f_orders == cust
            oid += 1
            rows.append(
                (oid, cust, "O", 100.0 * cust,
                 dt.datetime(2024, 1, 1), "1-URGENT")
            )
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    out = tmp_path / "rfm_sf"
    df.write.parquet(str(out / "orders.parquet"))

    from sqltask_spark.queries.relational2 import customer_rfm_segments

    got = {r["custkey"]: r for r in customer_rfm_segments(
        spark, str(out)
    ).collect()}
    for cust in range(1, 6):
        r = got[cust]
        assert r["f_score"] == cust
        assert r["m_score"] == cust  # m = 100*cust*f grows with cust
        assert r["r_score"] == 5
        assert r["m_cents"] == 100 * cust * cust * 100
    assert got[5]["segment"] == "champion"
    assert got[4]["segment"] == "champion"
    assert got[3]["segment"] == "regular"


def test_part_basket_affinity_planted(spark, tmp_path):
    """Lift arithmetic: parts A,B co-occur in 2 of 3 orders with
    c_A=3, c_B=2 -> lift = 2*3/(3*2) = exactly 1.0; the
    single-co-occurrence pair is cut by the support floor."""
    rows = [
        (1, 10), (1, 20), (1, 30),
        (2, 10), (2, 20),
        (3, 10),
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = tmp_path / "basket_sf"
    df.write.parquet(str(out / "lineitem.parquet"))

    from sqltask_spark.queries.relational2 import part_basket_affinity

    got = part_basket_affinity(spark, str(out)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["pa"], r["pb"], r["n_co_orders"]) == (10, 20, 2)
    assert (r["n_orders_a"], r["n_orders_b"]) == (3, 2)
    assert r["lift_micro"] == 1_000_000


def test_customer_cohort_ltv_planted(spark, tmp_path):
    """Triangle arithmetic: one January-cohort customer ordering
    twice in January and once in March accumulates 200.00 at offset
    0 and 250.00 by offset 2; a March-cohort customer starts its own
    row at offset 0."""
    import datetime as dt

    rows = [
        (1, 1, "O", 100.0, dt.datetime(2024, 1, 5), "1-URGENT"),
        (2, 1, "O", 100.0, dt.datetime(2024, 1, 20), "1-URGENT"),
        (3, 1, "O", 50.0, dt.datetime(2024, 3, 2), "1-URGENT"),
        (4, 2, "O", 30.0, dt.datetime(2024, 3, 9), "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    out = tmp_path / "ltv_sf"
    df.write.parquet(str(out / "orders.parquet"))

    from sqltask_spark.queries.relational2 import customer_cohort_ltv

    got = {(r["cohort_month"], r["month_offset"]): r
           for r in customer_cohort_ltv(spark, str(out)).collect()}
    jan0 = got[("2024-01", 0)]
    assert (jan0["revenue_cents"], jan0["cum_revenue_cents"]) == (
        20000, 20000,
    )
    jan2 = got[("2024-01", 2)]
    assert (jan2["revenue_cents"], jan2["cum_revenue_cents"]) == (
        5000, 25000,
    )
    assert jan2["ltv_cents_per_customer"] == 25000  # cohort size 1
    mar0 = got[("2024-03", 0)]
    assert (mar0["n_customers"], mar0["revenue_cents"]) == (1, 3000)


def test_embedding_drift_by_label_planted(spark, tmp_path):
    """Drift arithmetic: a label whose two snapshot halves are
    identical scores cosine 1.0; a label whose odd half is the exact
    negation scores -1.0; an orthogonal pair scores 0.0."""
    rows = [
        # label 0: identical halves
        (0, [1.0, 2.0, 0.0, 0.0], 0),
        (1, [1.0, 2.0, 0.0, 0.0], 0),
        # label 1: negated half
        (2, [3.0, -1.0, 0.5, 0.0], 1),
        (3, [-3.0, 1.0, -0.5, 0.0], 1),
        # label 2: orthogonal halves
        (4, [1.0, 0.0, 0.0, 0.0], 2),
        (5, [0.0, 1.0, 0.0, 0.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = tmp_path / "drift_sf"
    df.write.parquet(str(out / "embeddings.parquet"))

    from sqltask_spark.queries.vector import embedding_drift_by_label

    got = {r["label"]: r for r in embedding_drift_by_label(
        spark, str(out)
    ).collect()}
    assert got[0]["centroid_cos"] == 1.0
    assert got[1]["centroid_cos"] == -1.0
    assert got[2]["centroid_cos"] == 0.0
    assert (got[0]["n_a"], got[0]["n_b"]) == (1, 1)
    # exact quadratic forms ride along (milli fixed point)
    assert got[0]["dot_m"] == 1000**2 + 2000**2


def test_count_min_tokens_planted(spark, tmp_path):
    """CM guarantee on a planted census: estimates are one-sided
    (never below the exact count), and with w=4096 and a handful of
    distinct tokens there are no collisions, so every estimate is
    exact."""
    text = " ".join(["alpha"] * 10 + ["beta"] * 5 + ["gamma"] * 2)
    df = spark.createDataFrame(
        [(1, text, "A")], "doc_id long, text string, source string"
    )
    out = tmp_path / "cm_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import count_min_tokens

    got = {r["tok"]: r for r in count_min_tokens(
        spark, str(out)
    ).collect()}
    assert got["alpha"]["n_exact"] == 10
    for r in got.values():
        assert r["overcount"] >= 0
        assert r["cm_estimate"] == r["n_exact"]  # no collisions here


def test_count_min_one_sided_on_real_corpus(spark, sf_dir):
    from sqltask_spark.queries.pipeline import count_min_tokens

    rows = count_min_tokens(spark, sf_dir).collect()
    assert rows
    assert all(r["overcount"] >= 0 for r in rows)


def test_events_k_anonymity_planted(spark, tmp_path):
    """A 6-row QI group passes; a 2-row group (different hour) is
    below K=5 and lands in the suppressed share."""
    import datetime as dt

    rows = []
    for i in range(6):
        rows.append((i, dt.datetime(2024, 1, 1, 9, i), 1, "click",
                     15.0, None))
    for i in range(2):
        rows.append((10 + i, dt.datetime(2024, 1, 1, 23, i), 1,
                     "click", 15.0, None))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = tmp_path / "kanon_sf"
    df.write.parquet(str(out / "events.parquet"))

    from sqltask_spark.queries.events import events_k_anonymity

    got = events_k_anonymity(spark, str(out)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_rows"], r["n_qi_groups"], r["min_k"]) == (8, 2, 2)
    assert (r["n_rows_below_k"], r["n_groups_below_k"]) == (2, 1)
    assert r["suppressed_share_micro"] == 250_000


def test_source_length_drift_planted(spark, tmp_path):
    """Drift arithmetic: source A's halves have identical length
    distributions (L1 = 0); source B's even half is all short docs
    and its odd half all long docs (disjoint buckets -> L1 = 2e6,
    the maximum); a half-only source is excluded."""
    short = "a b c"                       # bucket 0
    long = " ".join(["w"] * 120)          # bucket 2
    rows = [
        (0, short, "A"), (1, short, "A"),
        (2, long, "A"), (3, long, "A"),
        (10, short, "B"), (12, short, "B"),
        (11, long, "B"), (13, long, "B"),
        (20, short, "C"),                 # even-only source
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tmp_path / "ldrift_sf"
    df.write.parquet(str(out / "documents.parquet"))

    from sqltask_spark.queries.pipeline import source_length_drift

    got = {r["source"]: r for r in source_length_drift(
        spark, str(out)
    ).collect()}
    assert set(got) == {"A", "B"}
    assert got["A"]["l1_drift_micro"] == 0
    assert got["B"]["l1_drift_micro"] == 2_000_000
    assert got["B"]["n_buckets"] == 2


def test_hll_store_incremental_equals_direct(spark, tables, tmp_path):
    """The persistent sketch-state loop: registers folded in TWO
    incremental updates (element-wise max through the merge table)
    equal a direct single-pass computation — max is associative — and
    replaying an update changes nothing (idempotent). Time travel
    reads the pre-update sketch state."""
    from pyspark.sql import functions as F

    from sqltask_spark.operators.sketch_store import (
        create_hll_store,
        hll_register_rows,
        read_hll_estimates,
        update_hll_store,
    )
    from sqltask_spark.operators.text import fingerprint_md5

    docs = tables["documents"].filter(F.col("text").isNotNull())
    base = docs.select(
        "doc_id", "source", fingerprint_md5(F.col("text")).alias("fp")
    )
    store = str(tmp_path / "hll")

    def est(df):
        return sorted(tuple(r) for r in df.collect())

    create_hll_store(
        hll_register_rows(
            base.filter(F.col("doc_id") % 2 == 0), "source", "fp"
        ),
        store,
    )
    b = hll_register_rows(
        base.filter(F.col("doc_id") % 2 == 1), "source", "fp"
    )
    update_hll_store(spark, store, b)
    got = est(read_hll_estimates(spark, store))
    # replay (no ledger): max-fold no-op, state identical
    update_hll_store(spark, store, b)
    assert est(read_hll_estimates(spark, store)) == got
    # direct single-pass state over the whole corpus
    direct = str(tmp_path / "hll_direct")
    create_hll_store(hll_register_rows(base, "source", "fp"), direct)
    assert est(read_hll_estimates(spark, direct)) == got
    # out-of-order fold converges to the same state (commutative)
    rev = str(tmp_path / "hll_rev")
    create_hll_store(b, rev)
    update_hll_store(
        spark, rev,
        hll_register_rows(
            base.filter(F.col("doc_id") % 2 == 0), "source", "fp"
        ),
    )
    assert est(read_hll_estimates(spark, rev)) == got
    # time travel: version 0 is the half-A-only state
    half_a_only = str(tmp_path / "hll_a")
    create_hll_store(
        hll_register_rows(
            base.filter(F.col("doc_id") % 2 == 0), "source", "fp"
        ),
        half_a_only,
    )
    assert est(read_hll_estimates(spark, store, as_of=0)) == est(
        read_hll_estimates(spark, half_a_only)
    )


def test_cm_store_requires_ledger_and_folds_exactly(spark, tables, tmp_path):
    """The Count-Min store is the NON-idempotent contrast to the HLL
    store: sum-fold needs the batch ledger. Incremental fold of two
    halves equals the direct whole-corpus grid; a ledgered replay is
    a no-op; an UNLEDGERED call without a batch_id is rejected
    loudly; and a replay under a DIFFERENT id really would
    double-count — demonstrating exactly why the ledger is
    mandatory."""
    import pytest
    from pyspark.sql import functions as F

    from sqltask_spark.operators.sketch_store import (
        cm_cell_rows,
        create_cm_store,
        read_cm_estimates,
        update_cm_store,
    )
    from sqltask_spark.operators.text import tokenize

    docs = tables["documents"].filter(F.col("text").isNotNull()).limit(200)

    def census(pred):
        return (
            docs.filter(pred)
            .select(F.explode(tokenize(F.col("text"))).alias("tok"))
            .filter(F.col("tok") != "")
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("g", F.lit("__ALL__"))
        )

    store = str(tmp_path / "cm")
    create_cm_store(
        cm_cell_rows(census(F.col("doc_id") % 2 == 0), "g", "tok", "c"),
        store,
    )
    b = cm_cell_rows(
        census(F.col("doc_id") % 2 == 1), "g", "tok", "c"
    ).persist()
    update_cm_store(spark, store, b, batch_id="half-b")
    probes = census(F.lit(True)).orderBy(
        F.col("c").desc(), F.col("tok").asc()
    ).limit(10)

    def est(path):
        return sorted(
            (r["tok"], r["cm_estimate"])
            for r in read_cm_estimates(
                spark, path, probes, "g", "tok"
            ).collect()
        )

    got = est(store)
    # direct whole-corpus grid
    direct = str(tmp_path / "cm_direct")
    create_cm_store(
        cm_cell_rows(census(F.lit(True)), "g", "tok", "c"), direct
    )
    assert got == est(direct)
    # ledgered replay: no-op
    update_cm_store(spark, store, b, batch_id="half-b")
    assert est(store) == got
    # no batch_id: rejected loudly
    with pytest.raises(ValueError, match="not.*idempotent"):
        update_cm_store(spark, store, b, batch_id="")
    # a replay smuggled under a NEW id double-counts — the hazard the
    # ledger exists to stop (estimates only ever grow: one-sided)
    update_cm_store(spark, store, b, batch_id="half-b-again")
    doubled = est(store)
    assert doubled != got
    assert all(d >= g for (_, d), (_, g) in zip(doubled, got))
    b.unpersist()


def test_bloom_store_lattice_and_saturation(spark, tmp_path):
    """The Bloom store completes the sketch-state algebra trio: OR is
    an idempotent commutative lattice join — incremental folds ≡
    direct build, replays and out-of-order folds converge with no
    ledger — capacity is FROZEN at creation, probes are one-sided
    (no false negatives), and saturation only grows."""
    from pyspark.sql import functions as F

    from sqltask_spark.operators.sketch_store import (
        bloom_probe,
        bloom_saturation,
        create_bloom_store,
        read_params,
        update_bloom_store,
    )

    vals = spark.createDataFrame(
        [(f"member-{i}",) for i in range(200)], "s string"
    )
    a = vals.filter(F.length("s") % 2 == 0)
    b = vals.filter(F.length("s") % 2 == 1)
    m_bits = 64 * 63
    store = str(tmp_path / "bloom")
    create_bloom_store(a, store, m_bits, "s")
    assert read_params(spark, store) == {"m_bits": m_bits}
    update_bloom_store(spark, store, b, "s")
    sat1 = bloom_saturation(spark, store).collect()[0]
    # replay (no ledger): bitmap unchanged
    update_bloom_store(spark, store, b, "s")
    assert bloom_saturation(spark, store).collect()[0] == sat1
    # direct build over the union: identical saturation numbers
    direct = str(tmp_path / "bloom_direct")
    create_bloom_store(vals, direct, m_bits, "s")
    assert bloom_saturation(spark, direct).collect()[0] == sat1
    # out-of-order fold converges too
    rev = str(tmp_path / "bloom_rev")
    create_bloom_store(b, rev, m_bits, "s")
    update_bloom_store(spark, rev, a, "s")
    assert bloom_saturation(spark, rev).collect()[0] == sat1
    # one-sided probe: every member hits (NO false negatives ever);
    # saturation bounds the fp rate, not correctness
    probes = vals.unionByName(
        spark.createDataFrame(
            [(f"absent-{i}",) for i in range(200)], "s string"
        )
    )
    got = {
        r["s"]: r["bloom_hit"]
        for r in bloom_probe(spark, store, probes, "s").collect()
    }
    assert all(got[f"member-{i}"] == 1 for i in range(200))
    n_fp = sum(got[f"absent-{i}"] for i in range(200))
    assert n_fp < 60  # ~(fill)^2 at this load, far below 30%
    # monotone growth: folding more members only raises saturation
    update_bloom_store(
        spark, store,
        spark.createDataFrame([(f"late-{i}",) for i in range(100)],
                              "s string"),
        "s",
    )
    sat2 = bloom_saturation(spark, store).collect()[0]
    assert sat2["n_set_bits"] >= sat1["n_set_bits"]


def test_hist_store_fold_ledger_and_quantile_bounds(
    spark, tables, tmp_path
):
    """The histogram store's three contracts: (1) SUM folds need the
    ledger — an unledgered call is a loud error and a replayed
    ledgered batch is a no-op; (2) out-of-order folds converge (sum
    commutes) — incremental over shuffled thirds equals a direct
    one-shot build; (3) every quantile interval [lo, hi) actually
    contains the exact quantile computed from the raw values."""
    import pytest
    from pyspark.sql import functions as F

    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.merge import read_parquet_table
    from sqltask_spark.operators.sketch_store import (
        create_hist_store,
        hist_cell_rows,
        read_hist_quantiles,
        update_hist_store,
    )

    docs = (
        tables["documents"]
        .filter(F.col("n_chars").isNotNull())
        .select("doc_id", "source", "n_chars")
    )
    store = str(tmp_path / "hist_store")
    create_hist_store(
        docs.filter(F.pmod("doc_id", F.lit(3)) == 0),
        store, "source", "n_chars", bucket_width=64, n_buckets=64,
    )
    b1 = docs.filter(F.pmod("doc_id", F.lit(3)) == 1)
    b2 = docs.filter(F.pmod("doc_id", F.lit(3)) == 2)
    with pytest.raises(ValueError, match="batch_id"):
        update_hist_store(spark, store, b1, "source", "n_chars", "")
    # out-of-order: fold thirds 2 then 1; replay both (ledger no-ops)
    update_hist_store(spark, store, b2, "source", "n_chars", "b2")
    update_hist_store(spark, store, b1, "source", "n_chars", "b1")
    seq = index_fs.read_manifest(spark, store)["_seq"]
    update_hist_store(spark, store, b2, "source", "n_chars", "b2")
    update_hist_store(spark, store, b1, "source", "n_chars", "b1")
    assert index_fs.read_manifest(spark, store)["_seq"] == seq
    # incremental state == direct one-shot cells over the whole corpus
    direct = str(tmp_path / "hist_direct")
    create_hist_store(
        docs, direct, "source", "n_chars", bucket_width=64, n_buckets=64
    )

    def cells(path):
        return sorted(
            (r["g"], int(r["b"]), int(r["cnt"]))
            for r in read_parquet_table(spark, path).collect()
        )

    assert cells(store) == cells(direct)
    # bound check: the exact q-quantile of each group lies in [lo, hi)
    q = read_hist_quantiles(spark, store, [500]).collect()
    exact = {
        r["source"]: int(r["m"])
        for r in docs.groupBy("source")
        .agg(F.expr("percentile(n_chars, 0.5)").alias("m"))
        .collect()
    }
    assert q
    for r in q:
        med = exact[r["g"]]
        assert r["lo"] <= med
        if r["hi"] is not None:
            assert med <= r["hi"]
    # hist_cell_rows is bounded: at most groups × n_buckets rows
    n_groups = docs.select("source").distinct().count()
    assert (
        hist_cell_rows(docs, "source", "n_chars", 64, 64).count()
        <= n_groups * 64
    )


def test_hist_store_saturation_rebuild_wider(spark, tmp_path):
    """Top-bucket saturation → maintain_hist_store rebuilds at 2×
    width in ONE atomic commit: new width visible, top-bucket mass
    relaxed, quantile intervals still contain the exact quantiles,
    and below the threshold the policy is a pure observer."""
    from pyspark.sql import functions as F

    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.index_maintenance import (
        maintain_hist_store,
    )
    from sqltask_spark.operators.sketch_store import (
        create_hist_store,
        hist_saturation,
        read_hist_quantiles,
        read_params,
    )

    # values deliberately larger than the initial range: width 4 ×
    # 8 buckets covers [0, 28); values up to 400 pile into bucket 7
    vals = spark.createDataFrame(
        [(i, "g1", (i * 7) % 400) for i in range(400)],
        "doc_id long, source string, v long",
    )
    store = str(tmp_path / "hist_sat")
    create_hist_store(
        vals, store, "source", "v", bucket_width=4, n_buckets=8
    )
    sat = hist_saturation(spark, store).collect()[0]
    assert int(sat["top_bucket_milli"]) > 500  # badly saturated
    r = maintain_hist_store(
        spark, store, vals, "source", "v", max_top_bucket_milli=50
    )
    assert r["rebuilt"] is True
    assert read_params(spark, store) == {"bucket_width": 8, "n_buckets": 8}
    # still saturated at 2x — the policy converges over repeated
    # maintenance calls exactly like repeated Bloom growth
    for _ in range(8):
        r = maintain_hist_store(
            spark, store, vals, "source", "v", max_top_bucket_milli=50
        )
        if not r["rebuilt"]:
            break
    assert r["rebuilt"] is False  # reached a healthy width
    width = read_params(spark, store)["bucket_width"]
    assert width >= 64  # 400-range values need width >= ~57
    # exact median within the certified interval after rebuilds
    med = sorted(((i * 7) % 400) for i in range(400))[200]
    q = read_hist_quantiles(spark, store, [500]).collect()[0]
    assert q["lo"] <= med and (q["hi"] is None or med <= q["hi"])
    # observer below the threshold: manifest does not move
    seq = index_fs.read_manifest(spark, store)["_seq"]
    maintain_hist_store(
        spark, store, vals, "source", "v", max_top_bucket_milli=999
    )
    assert index_fs.read_manifest(spark, store)["_seq"] == seq


def test_hist_time_travel_reads_meta_as_of(spark, tmp_path):
    """ADVICE r11: a time-traveled quantile read used to take cells
    at version N but layout meta from the LATEST manifest — after a
    rebuild widened the bucket width, [lo, hi) was derived from the
    new width against old-width buckets. Now meta and cells travel
    together: the as_of read is bit-identical to what a live read
    returned before the rebuild, for quantiles AND saturation."""
    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.index_maintenance import (
        maintain_hist_store,
    )
    from sqltask_spark.operators.sketch_store import (
        create_hist_store,
        hist_saturation,
        read_hist_quantiles,
        read_params,
    )

    vals = spark.createDataFrame(
        [(i, "g1", (i * 7) % 400) for i in range(400)],
        "doc_id long, source string, v long",
    )
    store = str(tmp_path / "hist_tt")
    create_hist_store(
        vals, store, "source", "v", bucket_width=4, n_buckets=8
    )
    pre_seq = index_fs.read_manifest(spark, store)["_seq"]
    snap_q = sorted(
        tuple(r) for r in read_hist_quantiles(
            spark, store, [250, 500, 750]
        ).collect()
    )
    snap_sat = sorted(
        tuple(r) for r in hist_saturation(spark, store).collect()
    )
    # rebuild wider until healthy — the width definitely changes
    for _ in range(10):
        if not maintain_hist_store(
            spark, store, vals, "source", "v", max_top_bucket_milli=50
        )["rebuilt"]:
            break
    w_new = read_params(spark, store)["bucket_width"]
    w_old = read_params(spark, store, as_of=pre_seq)["bucket_width"]
    assert w_old == 4 and w_new > 4
    assert sorted(
        tuple(r) for r in read_hist_quantiles(
            spark, store, [250, 500, 750], as_of=pre_seq
        ).collect()
    ) == snap_q
    assert sorted(
        tuple(r) for r in hist_saturation(
            spark, store, as_of=pre_seq
        ).collect()
    ) == snap_sat


def test_mg_store_certified_heavy_hitters(spark, tables, tmp_path):
    """The Misra-Gries heavy-hitters store (the TOP-K member of the
    sketch family): (1) the ledger is mandatory and a replayed fold
    no-ops; (2) for EVERY surviving counter the true count lies in
    [cnt_lo, cnt_hi]; (3) completeness — every item whose true count
    exceeds the group's exact decrement IS present; (4) both
    guarantees hold under a DIFFERENT fold order even though counter
    values may differ (the mergeable-summaries contract); (5) state
    is bounded at groups × (k + 2) rows."""
    import pytest

    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.merge import read_parquet_table
    from sqltask_spark.operators.sketch_store import (
        create_mg_store,
        read_mg_topk,
        read_params,
        update_mg_store,
    )

    docs = tables["documents"].filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t"),
    ).filter(F.col("t") != "")
    exact = {
        (r["source"], r["t"]): int(r["c"])
        for r in toks.groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    K = 6
    parts = [toks.filter(F.pmod("doc_id", F.lit(3)) == j)
             for j in range(3)]

    def build(path, order):
        create_mg_store(
            parts[order[0]], path, "source", "t", k=K,
            batch_id=f"b{order[0]}",
        )
        for j in order[1:]:
            update_mg_store(
                spark, path, parts[j], "source", "t", f"b{j}"
            )

    def check(path):
        rows = read_mg_topk(spark, path).collect()
        decr_of = {}
        for r in rows:
            decr_of[r["g"]] = int(r["cnt_hi"]) - int(r["cnt_lo"])
            t = exact.get((r["g"], r["item"]), 0)
            assert r["cnt_lo"] <= t <= r["cnt_hi"], (
                r["g"], r["item"], r["cnt_lo"], t, r["cnt_hi"]
            )
        present = {(r["g"], r["item"]) for r in rows}
        for (g, it), c in exact.items():
            if g in decr_of and c > decr_of[g]:
                assert (g, it) in present, (g, it, c, decr_of[g])
        return rows

    a = str(tmp_path / "mg_a")
    build(a, [0, 1, 2])
    with pytest.raises(ValueError, match="batch_id"):
        update_mg_store(spark, a, parts[1], "source", "t", "")
    seq = index_fs.read_manifest(spark, a)["_seq"]
    update_mg_store(spark, a, parts[1], "source", "t", "b1")  # replay
    assert index_fs.read_manifest(spark, a)["_seq"] == seq
    check(a)
    # different fold order: guarantees hold (values may differ)
    b = str(tmp_path / "mg_b")
    build(b, [2, 0, 1])
    check(b)
    # state bound: groups × (k + 2) incl. decr+total rows
    n_groups = toks.select("source").distinct().count()
    assert read_parquet_table(spark, a).count() <= n_groups * (K + 2)
    assert read_params(spark, a) == {"k": K}
    # the error signal is observable, exact, and within the MG bound
    from sqltask_spark.operators.sketch_store import mg_saturation

    total_mass = sum(exact.values())
    sats = mg_saturation(spark, a).collect()
    assert sum(int(r["total_mass"]) for r in sats) == total_mass
    for r in sats:
        assert 0 <= int(r["error_milli"]) <= 1000 // (K + 1)


# --------------------------------------------------------------------------
# KMV bottom-k distinct sketch store
# --------------------------------------------------------------------------

def test_kmv_store_incremental_equals_direct(spark, tmp_path):
    """Folding in any order/with replays converges to the direct
    whole-corpus sketch — the CRDT argument, pinned bit-for-bit."""
    from sqltask_spark.operators.sketch_store import (
        create_kmv_store,
        kmv_estimates,
        kmv_rows,
        read_kmv_estimates,
        read_kmv_state,
        update_kmv_store,
    )

    rows = [(i, f"g{i % 3}", f"key-{i % 40}") for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "g", "key"])
    k = 8
    path = str(tmp_path / "kmv")
    parts = [df.filter(df.id % 4 == i) for i in range(4)]
    create_kmv_store(parts[0], path, "g", "key", k=k)
    # out-of-order + un-ledgered replay
    update_kmv_store(spark, path, parts[2], "g", "key")
    update_kmv_store(spark, path, parts[1], "g", "key")
    update_kmv_store(spark, path, parts[2], "g", "key")  # replay
    update_kmv_store(spark, path, parts[3], "g", "key")
    got = {
        (r["g"], r["n_kept"], r["est"])
        for r in read_kmv_estimates(spark, path).collect()
    }
    direct = {
        (r["g"], r["n_kept"], r["est"])
        for r in kmv_estimates(kmv_rows(df, "g", "key", k), k).collect()
    }
    assert got == direct
    # state bounded at k per group, and the kept rows are exactly the
    # k smallest hashes (deterministic distinct sample)
    state = read_kmv_state(spark, path)
    per_g = {
        r["g"]: r["n"] for r in state.groupBy("g").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert all(n == k for n in per_g.values())


def test_kmv_exact_below_saturation(spark, tmp_path):
    from sqltask_spark.operators.sketch_store import (
        create_kmv_store,
        read_kmv_estimates,
        update_kmv_store,
    )

    df1 = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x")], ["g", "key"]
    )
    df2 = spark.createDataFrame(
        [("a", "y"), ("a", "z"), ("b", "x")], ["g", "key"]
    )
    path = str(tmp_path / "kmv")
    create_kmv_store(df1, path, "g", "key", k=64)
    update_kmv_store(spark, path, df2, "g", "key")
    got = {
        (r["g"], r["n_kept"], r["est"])
        for r in read_kmv_estimates(spark, path).collect()
    }
    # below k the estimate IS the exact distinct count
    assert got == {("a", 3, 3), ("b", 1, 1)}


def test_kmv_estimator_accuracy(spark):
    """KMV error is ~1/sqrt(k); at k=256 over 10k distinct keys the
    estimate must land within 20%."""
    from sqltask_spark.operators.sketch_store import (
        kmv_estimates,
        kmv_rows,
    )

    n = 10_000
    df = spark.createDataFrame(
        [("g", f"key-{i}") for i in range(n)], ["g", "key"]
    )
    est = kmv_estimates(kmv_rows(df, "g", "key", 256), 256).first()["est"]
    assert abs(est - n) / n < 0.20


def test_kmv_set_estimates_exact_when_unsaturated(spark):
    """With both groups under k, the union window is the whole union:
    n_common and the estimates are EXACT set sizes."""
    from sqltask_spark.operators.sketch_store import (
        kmv_rows,
        kmv_set_estimates,
    )

    rows = [("a", f"k{i}") for i in range(10)] + [
        ("b", f"k{i}") for i in range(5, 20)
    ]
    df = spark.createDataFrame(rows, ["g", "key"])
    got = kmv_set_estimates(kmv_rows(df, "g", "key", 64), 64).collect()
    assert len(got) == 1
    r = got[0]
    # |a|=10, |b|=15, overlap {k5..k9}=5, union=20
    assert (r["g1"], r["g2"]) == ("a", "b")
    assert r["n_common"] == 5
    assert r["union_est"] == 20
    assert r["inter_est"] == 5


def test_kmv_set_estimates_saturated_accuracy(spark):
    """Saturated regime: jaccard/intersection estimates within 25%
    on a 50% planted overlap."""
    from sqltask_spark.operators.sketch_store import (
        kmv_rows,
        kmv_set_estimates,
    )

    n = 4000
    rows = [("a", f"k{i}") for i in range(n)] + [
        ("b", f"k{i}") for i in range(n // 2, n + n // 2)
    ]
    df = spark.createDataFrame(rows, ["g", "key"])
    r = kmv_set_estimates(kmv_rows(df, "g", "key", 256), 256).first()
    true_union, true_inter = n + n // 2, n // 2
    assert abs(r["union_est"] - true_union) / true_union < 0.25
    assert abs(r["inter_est"] - true_inter) / true_inter < 0.25


def test_kmv_frozen_k_and_time_travel(spark, tmp_path):
    from sqltask_spark.operators.sketch_store import (
        create_kmv_store,
        read_kmv_estimates,
        read_params,
        update_kmv_store,
    )

    df1 = spark.createDataFrame(
        [("a", f"k{i}") for i in range(30)], ["g", "key"]
    )
    df2 = spark.createDataFrame(
        [("a", f"m{i}") for i in range(30)], ["g", "key"]
    )
    path = str(tmp_path / "kmv")
    create_kmv_store(df1, path, "g", "key", k=8)
    before = read_kmv_estimates(spark, path).first()["est"]
    update_kmv_store(spark, path, df2, "g", "key")
    after = read_kmv_estimates(spark, path).first()["est"]
    assert read_params(spark, path) == {"k": 8}
    # version 0 still serves the pre-fold estimate
    assert read_kmv_estimates(spark, path, as_of=0).first()["est"] == before
    assert after != before
