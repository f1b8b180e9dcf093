#!/usr/bin/env python
"""Per-entry profiling: wall seconds AND Spark job count per catalog
entry (min-of-N wall like bench.py; each run's jobs counted through a
job group of its own, read back with the status tracker —
``profile_epoch_steps.StepJobs``. The count is deterministic across
runs of the same tree — the noise-free cross-tree comparison unit
used by the r12 optimization round).

Usage: [SPARK_GRAFT_PROFILE_REPEATS=N] \
           python scripts/profile_entry.py sf_dir query [query ...]
Prints one line per entry: ``name rows jobs min_wall [walls...]``.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from profile_epoch_steps import StepJobs  # noqa: E402

from sqltask_spark.queries import QUERIES  # noqa: E402
from sqltask_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repeats = int(os.environ.get("SPARK_GRAFT_PROFILE_REPEATS", "3"))
    spark = get_spark(
        app_name="profile_entry",
        master=f"local[{cpus}]",
        conf={
            "spark.sql.shuffle.partitions": cpus,
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm JVM + python worker pool exactly like bench.py
    from pyspark.sql import functions as F

    QUERIES["q1_pricing_summary"](spark, sf_dir).limit(1).collect()

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1000).repartition(int(cpus)).select(_warm("id")).count()

    steps = StepJobs(spark)
    rows = {}
    for name in names:
        for _ in range(repeats):
            spark.catalog.clearCache()
            steps.mark("")  # the run starts a step of its own
            rows[name] = QUERIES[name](spark, sf_dir).count()
            steps.mark(name)
    runs: dict[str, list[tuple[int, float]]] = {}
    for label, jobs, wall in steps.report():
        if label:
            runs.setdefault(label, []).append((jobs, wall))
    for name in rows:
        walls = [wall for _, wall in runs[name]]
        jobs = runs[name][-1][0]
        walls_s = " ".join(f"{w:.2f}" for w in walls)
        print(
            f"{name} rows={rows[name]} jobs={jobs}"
            f" min={min(walls):.2f} [{walls_s}]",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
