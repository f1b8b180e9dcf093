"""Index maintenance policies — the closed loop between mutation and
compaction/rebuild.

The persistent MinHash and IVF indexes mutate by writing NEW
generations (appends) and NEW tombstone sets (deletes); compaction
and quantizer rebuild exist as manual operators
(:func:`~sqltask_spark.operators.dedup_index.compact_minhash_index`,
:func:`~sqltask_spark.operators.ann_index.compact_ivf_index`,
:func:`~sqltask_spark.operators.ann_index.build_ivf_index`). Without
a policy, an ingest loop accumulates generations until a human
intervenes: every probe unions #generations file lists (measured
~10% listing/read overhead at 10 generations), tombstoned rows are
re-read and anti-joined forever, and a drifting embedding
distribution quietly erodes IVF recall. These drivers make the
trigger decision mechanical — the same thresholds LSM engines
(leveled compaction) and FAISS-style serving systems (rebuild on
occupancy drift) apply.

Design: the no-op path is CHEAP. Generation and tombstone-set counts
come from the committed manifest alone (one small JSON read); the
tombstone-ratio census reads only the skinny id relations, and only
when tombstone sets exist; the IVF drift probe reads only the
``cell`` partition column. So calling ``maintain_*`` after every
append/epoch costs one manifest read until a threshold actually
trips.

Concurrency: maintenance inherits the single-writer contract of the
index mutation protocol — run it from the (one) writer, exactly
where the sinks call it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _over(max_generations: int, max_tombstone_ratio: float):
    """The index compaction trigger: generation count or tombstone
    ratio past its threshold."""
    return lambda h: (
        h["n_generations"] > max_generations
        or h["tombstone_ratio"] > max_tombstone_ratio
    )


def minhash_index_health(spark: SparkSession, path: str) -> dict:
    """Health snapshot of a committed MinHash index: generation
    count (manifest-only), tombstone count and ratio over physical
    ids (skinny id-column reads, skipped entirely when no tombstone
    set is committed)."""
    from sqltask_spark.operators.dedup_index import MinHashStore

    return MinHashStore(spark, path).health()


def maintain_minhash_index(
    spark: SparkSession,
    path: str,
    max_generations: int = 10,
    max_tombstone_ratio: float = 0.2,
    vacuum_keep_versions: int | None = None,
    ledger_keep_batches: int | None = None,
) -> dict:
    """Compact the MinHash index when generation count or tombstone
    ratio crosses its threshold; no-op otherwise. Returns the health
    snapshot plus ``compacted``. Probes are bit-identical across the
    compaction (pytest-pinned probe invariance) — only read
    amplification changes.

    ``vacuum_keep_versions`` additionally bounds the VERSION ledger
    (:func:`~sqltask_spark.operators.dedup_index.
    vacuum_minhash_index`): a long-running ingest loop commits one
    manifest per mutation plus a sync marker per epoch, so without
    retention the manifest directory listing — paid by every
    committed-state read — grows forever. ``None`` keeps full time
    travel. ``ledger_keep_batches`` (r12) bounds the append batch
    ledger — safe at any horizon here exactly as for the IVF index:
    the anti-join backstop no-ops replays trimmed past the tail."""
    from sqltask_spark.operators.dedup_index import MinHashStore

    return MinHashStore(spark, path).maintain(
        _over(max_generations, max_tombstone_ratio), vacuum_keep_versions,
        ledger_keep_batches,
    )


def ivf_index_health(spark: SparkSession, path: str) -> dict:
    """Health snapshot of a committed IVF index: generation count
    (manifest-only), tombstone ratio (skinny id reads, only when
    tombstone sets exist)."""
    from sqltask_spark.operators.ann_index import IvfStore

    return IvfStore(spark, path).health()


def maintain_ivf_index(
    spark: SparkSession,
    path: str,
    max_generations: int = 10,
    max_tombstone_ratio: float = 0.2,
    vacuum_keep_versions: int | None = None,
    ledger_keep_batches: int | None = None,
) -> dict:
    """Compact the IVF index when generation count or tombstone ratio
    crosses its threshold; no-op otherwise. Compaction keeps the
    FROZEN quantizer (storage reorganization, never retraining), so
    probe results are unchanged. ``vacuum_keep_versions`` bounds the
    version ledger like the MinHash policy (every epoch commits a
    manifest; drift rebuilds also leave superseded quantizer
    directories that only the vacuum reclaims).
    ``ledger_keep_batches`` (r12) bounds the append batch ledger —
    SAFE here at any horizon: a replayed append older than the kept
    tail falls back to the anti-join idempotency backstop, which
    no-ops it (pytest-pinned), unlike the merge tables' content
    convergence or the histogram store's fold."""
    from sqltask_spark.operators.ann_index import IvfStore

    return IvfStore(spark, path).maintain(
        _over(max_generations, max_tombstone_ratio), vacuum_keep_versions,
        ledger_keep_batches,
    )


def parquet_table_health(spark: SparkSession, path: str) -> dict:
    """Health snapshot of a merge-able parquet table: live file
    count and mean live-file size (small-files pressure — MERGE
    copy-on-write accumulates generation fragments) plus version
    count since the retention boundary. Manifest + file-status reads
    only; no data is scanned."""
    from sqltask_spark.operators.merge import TableStore

    return TableStore(spark, path).health()


def maintain_parquet_table(
    spark: SparkSession,
    path: str,
    max_files: int = 64,
    min_mean_file_bytes: int = 8 * 1024 * 1024,
    vacuum_keep_versions: int | None = None,
    vacuum_min_keep_seq: int | None = None,
    ledger_keep_batches: int | None = None,
) -> dict:
    """Small-files maintenance for the merge table — the lake
    symmetry of the index policies: compact when the live file count
    exceeds ``max_files`` AND the mean live-file size sits under
    ``min_mean_file_bytes`` (many-small-fragments pressure; a table
    of few large files is healthy at any count), optionally vacuum
    old versions afterwards. Row-identical (compaction pytest) and
    atomic like every table mutation. ``vacuum_min_keep_seq`` floors
    the vacuum so CDC consumers' resume versions stay readable
    (:func:`~sqltask_spark.operators.index_fs.drop_manifests`).
    ``ledger_keep_batches`` (r12) bounds the batch LEDGER — size it
    past the source's redelivery horizon
    (:func:`~sqltask_spark.operators.merge.trim_batch_ledger`)."""
    from sqltask_spark.operators.merge import TableStore

    return TableStore(spark, path).maintain(
        lambda h: (
            h["n_files"] > max_files
            and h["mean_file_bytes"] < min_mean_file_bytes
        ),
        vacuum_keep_versions, ledger_keep_batches, vacuum_min_keep_seq,
    )


def maintain_bloom_store(
    spark: SparkSession,
    path: str,
    members,
    value_col: str,
    max_fill_micro: int = 500_000,
    growth_factor: int = 2,
) -> dict:
    """Rebuild the Bloom store at ``growth_factor``× capacity when
    saturation (set bits over frozen capacity, micro units) crosses
    ``max_fill_micro`` — the policy arm of
    :func:`~sqltask_spark.operators.sketch_store.bloom_saturation`,
    mirroring :func:`rebuild_ivf_on_drift` (frozen parameter, drift
    signal, rebuild-as-the-only-move). Default threshold 500000 =
    half the bits set, where a k=2 filter's false-positive rate
    reaches ~25% and keeps climbing.

    ``members`` is the DRIVING member set (the exact values the
    filter must keep answering "maybe" for — a Bloom store cannot
    enumerate its own members, so growth needs the source relation;
    the streaming sink materializes one when asked). The no-op path
    is one state-sized aggregate over the ≤ m_bits/63-row word
    table. Rebuild preserves the no-false-negative contract by
    construction: every member is re-inserted under the new capacity
    in the SAME atomic commit that retires the old bitmap."""
    from sqltask_spark.operators.sketch_store import (
        bloom_saturation,
        rebuild_bloom_store,
    )

    s = bloom_saturation(spark, path).collect()[0]
    rebuilt = int(s["fill_micro"]) > max_fill_micro
    if rebuilt:
        rebuild_bloom_store(
            spark, path, members, value_col,
            int(s["m_bits"]) * growth_factor,
        )
    return {
        "m_bits": int(s["m_bits"]),
        "n_set_bits": int(s["n_set_bits"]),
        "fill_micro": int(s["fill_micro"]),
        "rebuilt": rebuilt,
    }


def rebuild_ivf_on_drift(
    spark: SparkSession,
    path: str,
    max_concentration_micro: int = 8_000_000,
    sample_cap: int = 4096,
) -> dict:
    """Retrain the IVF coarse quantizer when occupancy drift crosses
    the threshold — the rebuild decision
    :func:`~sqltask_spark.operators.ann_index.ivf_occupancy_stats`
    exists to feed.

    ``concentration_micro`` is max-cell occupancy over mean occupancy
    ×1e6; a freshly trained quantizer on its own distribution sits
    near 1–4e6, and ingest drift shows up as the hottest cell running
    away from the mean (default threshold 8e6 = hottest cell 8× the
    mean). The rebuild trains on the CURRENT live vectors (tombstoned
    rows excluded, so a purge never poisons the sample) with the same
    layout params, and commits through ``build_ivf_index``'s atomic
    rebuild path: probes serve the old quantizer until the manifest
    lands. This is the one maintenance action that CHANGES probe
    results (cell assignments move) — by design, that is the point.
    """
    from pyspark.sql import functions as F

    from sqltask_spark.operators import ann_index as ai

    stats = ai.ivf_occupancy_stats(spark, path).collect()[0]
    if not stats["n_vectors"]:
        # fully tombstoned/empty index: nothing to retrain on (the
        # census is empty and concentration is NULL) — a no-op, not
        # a crash, so a streaming drift hook survives a total purge
        return {
            "n_cells_used": 0,
            "n_vectors": 0,
            "max_occupancy": 0,
            "concentration_micro": 0,
            "rebuilt": False,
        }
    drifted = (
        int(stats["concentration_micro"]) > max_concentration_micro
    )
    if drifted:
        m = ai.committed_manifest(spark, path)
        params = m["params"]
        live = ai.read_vectors(spark, path, m).select(
            "neighbor_id", F.col("cv")
        )
        ai.build_ivf_index(
            live,
            path,
            "neighbor_id",
            vec_col="cv",
            n_cells=int(params["n_cells"]),
            sample_cap=sample_cap,
            m=params.get("m"),
            pq_k=int(params["pq_k"]) if params.get("pq_k") else 16,
        )
    return {
        "n_cells_used": int(stats["n_cells_used"]),
        "n_vectors": int(stats["n_vectors"]),
        "max_occupancy": int(stats["max_occupancy"]),
        "concentration_micro": int(stats["concentration_micro"]),
        "rebuilt": drifted,
    }


def maintain_hist_store(
    spark: SparkSession,
    path: str,
    members,
    group_col: str,
    value_col: str,
    max_top_bucket_milli: int = 50,
    growth_factor: int = 2,
    weight_col: "str | None" = None,
) -> dict:
    """Rebuild the histogram store at ``growth_factor``× bucket width
    when any group's top-bucket mass crosses ``max_top_bucket_milli``
    (milli fraction) — the policy arm of
    :func:`~sqltask_spark.operators.sketch_store.hist_saturation`,
    completing the drift-policy family (IVF occupancy → retrain,
    Bloom fill → bigger bitmap, histogram top-mass → wider buckets).
    ``members`` is the driving value relation (buckets cannot be
    split after the fact, so growth re-bins from source — the same
    reason the Bloom rebuild needs the member set). The no-op path is
    one state-sized aggregate."""
    from pyspark.sql import functions as F

    from sqltask_spark.operators.sketch_store import (
        hist_saturation,
        read_hist_meta,
        rebuild_hist_store,
    )

    width, n_buckets = read_hist_meta(spark, path)
    worst = (
        hist_saturation(spark, path)
        .agg(F.max("top_bucket_milli").alias("m"))
        .collect()[0]["m"]
    )
    worst = int(worst) if worst is not None else 0
    rebuilt = worst > max_top_bucket_milli
    if rebuilt:
        rebuild_hist_store(
            spark, path, members, group_col, value_col,
            width * growth_factor, weight_col=weight_col,
        )
    return {
        "bucket_width": width,
        "n_buckets": n_buckets,
        "worst_top_bucket_milli": worst,
        "rebuilt": rebuilt,
    }
