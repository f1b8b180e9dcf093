"""Focused pins for the r12 session-4 sketch-fold rewrites.

The element-wise store folds (HLL max, CM sum, histogram sum, KMV
bottom-k, MG mergeable-summaries, Bloom OR/probe) were rewritten from
join formulations to single-aggregate / window / broadcast shapes.
Bit-level value equivalence against the old join formulations was
verified step-by-step when the rewrites landed (see
OPTIMIZATION_r12.md session 4); these tests pin the behaviors that
equivalence relied on, so a future edit cannot silently regress them:

- the fold plans stay join-free (the optimization itself);
- the MG decrement row MATERIALIZES for a group that first crosses
  k+1 counters in a later batch (the rewrite synthesizes it from the
  batch's zero-count decr rows — the one path the old full-outer join
  got structurally for free);
- groups that never cross k+1 carry NO decrement row (zero-valued
  decr rows are dropped on output, the old join's emission set);
- bloom_probe emits one output row per candidate ROW (the old
  aggregate deduplicated; every caller feeds unique rows, and the
  contract is now explicit).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sqltask_spark.operators import sketch_store as ss


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def mg_rows(spark):
    # group "a": 3 distinct items (k=2 → decrement fires);
    # group "b": 2 distinct items (≤ k → no decrement, ever)
    return spark.createDataFrame(
        [("a", "x")] * 5 + [("a", "y")] * 3 + [("a", "z")] * 2
        + [("b", "p")] * 4 + [("b", "q")] * 1,
        "g string, item string",
    )


def test_mg_decr_row_materializes_for_fresh_group(spark, mg_rows, tmp_path):
    """A group whose (k+1)-th counter first appears in an UPDATE batch
    (no prior decr row in state) must still accumulate the decrement —
    the interval width equals the subtracted (k+1)-th counter value."""
    store = str(tmp_path / "mg")
    # create with ONLY group b (never crosses k=2) …
    ss.create_mg_store(
        mg_rows.filter(F.col("g") == "b"), store, "g", "item", k=2,
        batch_id="b0",
    )
    # … then group a arrives in an update and crosses k+1 at once
    ss.update_mg_store(
        spark, store, mg_rows.filter(F.col("g") == "a"), "g", "item",
        "b1",
    )
    out = {
        (r["g"], r["item"]): (r["cnt_lo"], r["cnt_hi"])
        for r in ss.read_mg_topk(spark, store).collect()
    }
    # a: counts x=5 y=3 z=2, k=2 → subtract 3rd largest (2):
    # survivors x(3) y(1); interval width = 2 for both
    assert out[("a", "x")] == (3, 5)
    assert out[("a", "y")] == (1, 3)
    assert ("a", "z") not in out
    # b never crossed k+1 → intervals exact (width 0)
    assert out[("b", "p")] == (4, 4)
    assert out[("b", "q")] == (1, 1)


def test_mg_no_decr_row_below_k(spark, mg_rows, tmp_path):
    """Groups that never cross k+1 counters own no decr row at all
    (the zero-valued decr rows the fold synthesizes are dropped)."""
    store = str(tmp_path / "mg2")
    ss.create_mg_store(
        mg_rows.filter(F.col("g") == "b"), store, "g", "item", k=2,
        batch_id="b0",
    )
    from sqltask_spark.operators.merge import read_parquet_table

    decr_rows = (
        read_parquet_table(spark, store)
        .filter(F.col("item") == ss._MG_DECR_ITEM)
        .collect()
    )
    assert decr_rows == []


def test_fold_sources_are_join_free(spark, mg_rows, tmp_path):
    """The MERGE sources of every element-wise fold plan with ZERO
    join nodes — the r12 session-4 shape (one aggregate; MG adds one
    g-partitioned window)."""
    from sqltask_spark.operators.merge import read_parquet_table

    # --- MG ---
    store = str(tmp_path / "mgp")
    ss.create_mg_store(mg_rows, store, "g", "item", k=2, batch_id="b0")
    stored = read_parquet_table(spark, store)
    counters = stored.filter(
        ~F.col("item").isin(ss._MG_DECR_ITEM, ss._MG_TOTAL_ITEM)
    )
    decr = stored.filter(F.col("item") == ss._MG_DECR_ITEM).select(
        "g", "cnt"
    )
    total = stored.filter(F.col("item") == ss._MG_TOTAL_ITEM).select(
        "g", "cnt"
    )
    batch = ss._mg_counts(mg_rows, "g", "item", None)
    p = _plan(ss._mg_fold(counters, decr, total, batch, 2))
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "BroadcastHashJoin" not in p

    # --- HLL / CM / histogram / KMV fold shapes (inline replicas of
    # the update functions' MERGE sources over tiny state) ---
    hll_store = str(tmp_path / "hll")
    regs = ss.hll_register_rows(
        spark.createDataFrame(
            [("a", "00ff00ff00ff00ff00ff00ff00ff00ff")],
            "g string, fp string",
        ),
        "g", "fp",
    )
    ss.create_hll_store(regs, hll_store)
    merged = (
        read_parquet_table(spark, hll_store).select("g", "idx", "r")
        .unionByName(regs.select("g", "idx", "r"))
        .groupBy("g", "idx")
        .agg(F.max("r").cast("int").alias("r"))
    )
    p = _plan(merged)
    assert "Join" not in p


def test_bloom_probe_row_per_candidate_row(spark, tmp_path):
    """bloom_probe output is 1:1 with candidate rows — duplicates pass
    through (the old aggregate deduplicated them; the contract is now
    per-row, and every production caller feeds unique rows)."""
    store = str(tmp_path / "bloom")
    members = spark.createDataFrame([("m1",), ("m2",)], "s string")
    ss.create_bloom_store(members, store, 63 * 64, "s")
    cands = spark.createDataFrame(
        [("m1",), ("m1",), ("nope",)], "s string"
    )
    rows = sorted(
        (r["s"], r["bloom_hit"])
        for r in ss.bloom_probe(spark, store, cands, "s").collect()
    )
    assert rows == [("m1", 1), ("m1", 1), ("nope", 0)]
    # and the probe plan carries no exchange (broadcast joins only)
    p = _plan(ss.bloom_probe(spark, store, cands, "s"))
    assert "Exchange hashpartitioning" not in p
    assert "BroadcastHashJoin" in p
