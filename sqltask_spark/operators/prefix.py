"""Distributed global prefix sum (running total over a global order).

No reference counterpart (north-star extension). A global running sum
is the backbone of several corpus-layout operators (systematic PPS
sampling, global packing, offset assignment for shard writing), and
the naive Spark spelling — ``Window.orderBy(col)`` with no partition
— executes on ONE task: the whole dataset funnels through a single
window, which is exactly the anti-pattern a 100 TB engine cannot
ship.

The classic two-phase formulation used here:

1. ``repartitionByRange(order_col)`` — one range shuffle puts each
   partition's keys strictly before the next partition's (Spark
   samples boundaries; ANY boundary choice yields the same final
   sums, so results are layout-stable);
2. per-partition running sums via a window PARTITIONED on the
   physical partition id — fully parallel;
3. per-partition totals (one tiny row per partition) are collected,
   turned into exclusive cumulative offsets on the driver — O(#
   partitions), not O(rows) — and broadcast-joined back;
4. global cum = local cum + partition offset.

Two narrow passes over the data, no single-task stage, exact BIGINT
arithmetic throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
    return_cached: bool = False,
):
    """Add ``out_col`` = running sum of ``value_col`` in global
    ``order_col`` order (inclusive of the current row).

    ``order_col`` must be unique (it is the total order); ``value_col``
    should be integral (sums stay exact). Output keeps all input
    columns.

    Cache lifecycle: the per-partition cumsum relation MUST stay
    persisted between the totals pass and the final join — not for
    speed but for CORRECTNESS: ``repartitionByRange`` samples its
    boundaries, and an uncached recompute could legally re-sample,
    mis-keying the offsets against a different partitioning. With
    ``return_cached=True`` the call returns ``(out, cached)`` so a
    caller whose downstream reduces the result (e.g. the PPS sampler)
    can ``materialize_and_release`` the small result and free the
    corpus-sized cache. With the default ``return_cached=False`` the
    RESULT comes back persisted-and-materialized and the intermediate
    is released before returning (it must not leak for the session —
    ADVICE r6); callers should ``unpersist()`` the result when done.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
    ranged = df.repartitionByRange(num_partitions, F.col(order_col))
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = with_pid.withColumn(
        "__local_cum", F.sum(value_col).over(w)
    ).persist()
    totals = sorted(
        local.groupBy("__pid").agg(F.sum(value_col).alias("t")).collect(),
        key=lambda r: r["__pid"],
    )
    offsets, running = [], 0
    for r in totals:
        offsets.append((int(r["__pid"]), running))
        running += int(r["t"] or 0)
    if not offsets:
        # empty input: no partitions materialized — emit the schema.
        # The default path still honors the documented contract (the
        # result comes back persisted-and-materialized, so a caller's
        # unpersist() is meaningful on every path — ADVICE r7).
        out = df.withColumn(out_col, F.lit(0).cast("long"))
        if return_cached:
            return out, local
        out = out.persist()
        out.count()
        local.unpersist()
        return out
    off_df = local_frame(spark, offsets, "__pid int, __off long")
    out = (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out_col, (F.col("__local_cum") + F.col("__off")).cast("long")
        )
        .drop("__pid", "__local_cum")
    )
    if return_cached:
        return out, local
    # default path: pin the result the caller actually consumes, then
    # release the corpus-sized intermediate (correct boundaries are
    # baked into the materialized output, so the recompute hazard is
    # gone and nothing leaks)
    out = out.persist()
    out.count()
    local.unpersist()
    return out
