#!/usr/bin/env python
"""Job-count breakdown INSIDE one CDC epoch of the stream-sync loop.

Replays epoch 0 (single-row insert) step by step at orchestration
granularity — the sink's bounded collect, its fingerprint, the merge,
the change feed, the index mutations and the sync marker — printing
the Spark jobs and wall seconds of each step. Each step runs under a
job group of its own, read back through the public
``statusTracker().getJobIdsForGroup``.

    python scripts/profile_epoch_steps.py [SF_DIR]
"""

from __future__ import annotations

import os
import sys
import time
import uuid

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from sqltask_spark.data import load_table  # noqa: E402
from sqltask_spark.session import get_spark  # noqa: E402


class StepJobs:
    """Wall seconds and Spark jobs per step: each step's actions run
    under their own job group, counted once the status tracker has seen
    a sentinel job started after them (the listener bus may lag)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spark = spark
        self.steps: list[tuple[str, str, float]] = []
        self._open()

    def _open(self) -> None:
        self.group = f"step-{uuid.uuid4().hex}"
        self.sc.setJobGroup(self.group, "profile_epoch_steps")
        self.t0 = time.perf_counter()

    def mark(self, label: str) -> None:
        self.steps.append((label, self.group, time.perf_counter() - self.t0))
        self._open()

    def report(self) -> list[tuple[str, int, float]]:
        tracker = self.sc.statusTracker()
        sentinel = f"sentinel-{uuid.uuid4().hex}"
        self.sc.setJobGroup(sentinel, "profile_epoch_steps sentinel")
        self.spark.range(1).count()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
            time.sleep(0.01)
        return [
            (label, len(tracker.getJobIdsForGroup(group)), wall)
            for label, group, wall in self.steps
        ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="profile_epoch",
        master=f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": cpus,
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    steps = StepJobs(spark)
    mark = steps.mark

    from sqltask_spark.queries import QUERIES

    QUERIES["q1_pricing_summary"](spark, sf_dir).limit(1).collect()

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).repartition(int(cpus)).select(_warm("id")).count()

    import shutil
    import tempfile

    from sqltask_spark.data import collect_local, content_fingerprint, local_frame
    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators import dedup_index as di
    from sqltask_spark.operators.merge import (
        create_parquet_table,
        merge_into_parquet,
        table_changes,
        table_schema,
    )
    from sqltask_spark.operators.index_sync import (
        sync_minhash_index_with_table,
    )

    novel_a = "aq bz cy dx ew fv gu ht is jr kq lp mo nn"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 400)
    tmp = tempfile.mkdtemp(prefix="prof_epoch_")
    tbl, idx = f"{tmp}/tbl", f"{tmp}/idx"
    try:
        create_parquet_table(docs, tbl)
        di.build_minhash_index(docs, idx)
        mark("setup(create+build)")

        epoch_ddl = "doc_id long, text string, seq long, is_del boolean"
        batch = local_frame(spark, [(10_000_001, novel_a, 1, False)], epoch_ddl)
        # --- the sink's steps, unrolled ---------------------------
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy(F.col("seq").desc())
        src = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        keep = [f.name for f in table_schema(spark, tbl).fields]
        keep.append("is_del")
        src = src.select(*keep)
        local = collect_local(src, index_fs.SMALL_BATCH_CAP)
        if local is not None:
            src = local
        mark("sink_collect")
        fp = content_fingerprint(src, keep)
        mark("fingerprint")
        v0 = index_fs.read_manifest(spark, tbl)["_seq"]
        merge_into_parquet(
            spark, tbl, src, ["doc_id"], batch_id=f"e0#{fp}",
            delete_col="is_del",
        )
        mark("merge_into_parquet")
        to_seq = int(index_fs.read_manifest(spark, tbl)["_seq"])
        changes = table_changes(
            spark, tbl, ["doc_id"], v0, to_seq
        ).persist()
        by_type = {
            r["_change_type"]: r["n"]
            for r in changes.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        mark("table_changes+counts")
        incoming = changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select("doc_id", "text")
        ub = di.unblock_minhash_ids(
            spark, idx, incoming.select(F.col("doc_id").alias("id")),
            "id",
        )
        mark("unblock")
        n_app = di.append_to_minhash_index(idx, incoming, "doc_id", "text")
        mark("append")
        changes.unpersist()
        m = di.committed_manifest(spark, idx)
        index_fs.commit_manifest(
            spark, idx,
            {**{k: v for k, v in m.items() if k != "_seq"},
             "synced": {tbl: to_seq}},
            m["_seq"],
        )
        mark("marker_commit")
        print("by_type:", by_type, "unblock:", ub, "appended:", n_app)

        # --- epoch 2 shape: delete then re-insert -----------------
        batch = local_frame(spark, [(0, None, 2, True)], epoch_ddl)
        merge_into_parquet(
            spark, tbl, batch.select(*keep), ["doc_id"],
            batch_id="e1", delete_col="is_del",
        )
        mark("e1_merge(delete)")
        v1 = to_seq
        to_seq = int(index_fs.read_manifest(spark, tbl)["_seq"])
        r = sync_minhash_index_with_table(
            spark, tbl, idx, "doc_id", "text",
            from_seq=v1, to_seq=to_seq,
        )
        mark("e1_sync(delete-only)")
        batch = local_frame(
            spark, [(0, "qm rn so tp uq vr ws xt yu zv aw bx cy dz", 3, False)],
            epoch_ddl,
        )
        merge_into_parquet(
            spark, tbl, batch.select(*keep), ["doc_id"],
            batch_id="e2", delete_col="is_del",
        )
        mark("e2_merge(reinsert)")
        v2 = to_seq
        to_seq = int(index_fs.read_manifest(spark, tbl)["_seq"])
        changes = table_changes(
            spark, tbl, ["doc_id"], v2, to_seq
        ).persist()
        changes.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
        mark("e2_table_changes+counts")
        incoming = changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select("doc_id", "text")
        ub = di.unblock_minhash_ids(
            spark, idx, incoming.select(F.col("doc_id").alias("id")),
            "id",
        )
        mark("e2_unblock(hit)")
        n_app = di.append_to_minhash_index(idx, incoming, "doc_id", "text")
        mark("e2_append")
        changes.unpersist()
        print("e2 unblock:", ub, "appended:", n_app)

        print("\n=== step breakdown (jobs / wall s) ===")
        for label, jobs, wall in steps.report():
            print(f"{label:28s} {jobs:4d} jobs  {wall:7.2f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
