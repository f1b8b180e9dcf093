#!/usr/bin/env python
"""Per-phase Spark-JOB breakdown of the heavy certificate loops.

Replays corpus_stream_index_sync / corpus_ingest_loop step by step and
prints the Spark jobs (deterministic per tree — the r12 optimization
round's noise-free unit; each phase runs under a job group of its own,
read back with the status tracker — ``profile_epoch_steps.StepJobs``)
plus wall seconds for each phase, so job reductions can be attributed
to the exact mutation that pays them.

Usage: python scripts/profile_stream_sync_phases.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from profile_epoch_steps import StepJobs  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from sqltask_spark.data import load_table  # noqa: E402
from sqltask_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="profile_phases",
        master=f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": cpus,
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    steps = StepJobs(spark)
    mark = steps.mark

    # warm like bench.py
    from sqltask_spark.queries import QUERIES

    QUERIES["q1_pricing_summary"](spark, sf_dir).limit(1).collect()
    import pandas as pd

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).repartition(int(cpus)).select(_warm("id")).count()

    import shutil
    import tempfile

    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.dedup_index import (
        append_to_minhash_index,
        build_minhash_index,
        committed_manifest,
        probe_minhash_index,
    )
    from sqltask_spark.operators.merge import create_parquet_table
    from sqltask_spark.streaming.tables import merge_upsert_sink

    novel_a = "aq bz cy dx ew fv gu ht is jr kq lp mo nn"
    novel_c = "qm rn so tp uq vr ws xt yu zv aw bx cy dz"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 400)
    tmp = tempfile.mkdtemp(prefix="prof_stream_sync_")
    tbl, idx = f"{tmp}/tbl", f"{tmp}/idx"
    try:
        mark("setup")
        create_parquet_table(docs, tbl)
        mark("create_parquet_table")
        build_minhash_index(docs, idx)
        mark("build_minhash_index")
        sink = merge_upsert_sink(
            tbl, ["doc_id"], delete_col="is_del", order_col="seq",
            app_id="docs-cdc",
            sync_indexes=[{
                "kind": "minhash", "index_path": idx,
                "id_col": "doc_id", "payload_col": "text",
                "seed_from_seq": 0,
            }],
        )

        def mk(rows):
            return spark.createDataFrame(
                rows,
                "doc_id long, text string, seq long, is_del boolean",
            )

        epochs = [
            mk([(10_000_001, novel_a, 1, False)]),
            mk([(0, None, 2, True)]),
            mk([(0, novel_c, 3, False)]),
        ]
        for i, batch in enumerate(epochs):
            sink(batch, i)
            mark(f"epoch_{i}")
        for i, batch in enumerate(epochs):
            sink(batch, i)
            mark(f"replay_{i}")
        index_fs.read_manifest(spark, tbl)
        committed_manifest(spark, idx)
        mark("manifest_reads")
        probes = spark.createDataFrame(
            [(900_000, novel_a + " twin"), (900_001, novel_c + " twin")],
            "doc_id long, text string",
        )
        hits = probe_minhash_index(spark, idx, probes, threshold=0.5)
        hits.collect()
        hits.unpersist()
        mark("probe")

        # --- ingest loop phases -----------------------------------
        docs_all = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        b0 = docs_all.filter(F.col("doc_id") % 3 == 0)
        b1 = docs_all.filter(F.col("doc_id") % 3 == 1)
        tmp2 = tempfile.mkdtemp(prefix="prof_ingest_")
        mark("ingest_setup")
        build_minhash_index(b0, tmp2)
        mark("ingest_build")
        b0.count()
        mark("ingest_count_b0")
        hits = probe_minhash_index(spark, tmp2, b1, threshold=0.5)
        flagged = hits.select("batch_id").distinct()
        flagged.count()
        mark("ingest_probe+flagcount")
        admitted = b1.join(
            flagged, b1["doc_id"] == flagged["batch_id"], "left_anti"
        )
        append_to_minhash_index(tmp2, admitted)
        hits.unpersist()
        mark("ingest_append")
        b1.count()
        mark("ingest_count_b1")
        shutil.rmtree(tmp2, ignore_errors=True)

        marks = steps.report()
        print("\n=== phase breakdown (jobs / wall s) ===")
        for label, jobs, wall in marks:
            print(f"{label:28s} {jobs:4d} jobs  {wall:7.2f}s")
        print(
            "TOTAL",
            sum(j for _, j, _ in marks),
            "jobs",
            round(sum(w for _, _, w in marks), 2),
            "s",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
