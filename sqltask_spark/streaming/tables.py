"""Streaming upserts into merge-able parquet tables.

The Structured-Streaming end of :mod:`sqltask_spark.operators.merge`:
a ``foreachBatch`` sink that MERGEs each micro-batch into a versioned
parquet table — the standard CDC-to-table idiom (Delta's
``foreachBatch`` + ``MERGE`` pattern), here backed by this repo's own
manifest-atomic merge.

Exactly-once EFFECT under foreachBatch's at-least-once delivery: the
epoch id rides the table's batch ledger, so a re-delivered epoch is
recognized BEFORE any work and skipped — stronger than the idempotent
index append (which re-does the probe work and no-ops on the
anti-join): the ledger check is one manifest read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert_sink(
    table_path: str,
    key_cols: list[str],
    delete_col: str | None = None,
    order_col: str | None = None,
    app_id: str = "default",
    maintenance: dict | None = None,
    sync_indexes: "list[dict] | None" = None,
):
    """``foreachBatch`` sink: MERGE each micro-batch into the table
    at ``table_path`` (which must exist — create it with
    :func:`~sqltask_spark.operators.merge.create_parquet_table`).

    A CDC micro-batch can carry several changes for one key; MERGE
    requires one row per key, so ``order_col`` names the column whose
    LARGEST value wins within the epoch (a change-sequence number or
    event time; make it unique per key — equal values leave the
    winner undefined). Without it, a multi-change epoch fails loudly
    (the MERGE duplicate-key error) rather than applying changes in
    undefined order.

    Ledger keying — the Delta ``txnAppId``/``txnVersion`` pattern:
    the idempotency entry is ``{app_id}:epoch-{epoch_id}#{content
    fingerprint}``. Epoch ids restart at 0 whenever a query runs from
    a fresh/changed checkpoint, so the bare epoch id is NOT a safe
    key: a colliding epoch carrying NEW data would be silently
    no-opped (data loss). Instead, a ledger hit on the same
    (app_id, epoch) whose batch content is identical is skipped
    before any merge work (exactly-once under at-least-once
    redelivery, and full same-data replays stay bit-identical), while
    a hit whose content DIFFERS raises ``ValueError`` — the loud
    signal that a fresh checkpoint or a second query is reusing epoch
    ids; give each logical stream its own ``app_id``.

    One driver round trip per small epoch: the deduplicated, projected
    epoch is collected once, bounded at
    :data:`~sqltask_spark.operators.index_fs.SMALL_BATCH_CAP` + 1 rows.
    An epoch under the cap continues as a local relation
    (:func:`~sqltask_spark.data.collect_local`), so the fingerprint and
    MERGE's key collect fold into it and run no Spark job; the epoch
    then runs MERGE's hit scan and its write, whose new file's stats
    the write itself observes. An epoch past the cap stays a plan and
    pays one more bounded collect for its fingerprint.

    Single-writer, like the table itself: the manifest protocol
    already makes concurrent writer collisions a loud error.

    ``maintenance`` (thresholds for
    :func:`~sqltask_spark.operators.index_maintenance.
    maintain_parquet_table`) runs after each epoch's merge — long-
    running CDC queries are exactly where copy-on-write fragments
    accumulate; the check is manifest/file-status reads until a
    threshold trips.

    ``sync_indexes`` closes the stream → table → index loop: a list
    of specs, each ``{"kind": "minhash"|"ivf", "index_path": str,
    "id_col": str, "payload_col": str[, "seed_from_seq": int]}``.
    After each epoch's merge commits, the change window since that
    index's last synced table version is applied via
    :func:`~sqltask_spark.operators.index_sync.
    sync_minhash_index_with_table` /
    :func:`~sqltask_spark.operators.index_sync.
    sync_ivf_index_with_table`, and the window's upper bound persists
    in the index manifest (``synced[table_path]``) — no caller-side
    bookkeeping. ``seed_from_seq`` (the table version the index was
    built from, typically 0 for an index built from the seed data) is
    consulted ONLY when the index has no marker yet; an unseeded,
    marker-less index fails loudly rather than guessing a window. A
    ledger-skipped (redelivered) epoch leaves the table version
    unchanged, so its sync window is empty — the index is touched
    exactly once per effective epoch.

    Usage::

        stream.writeStream.foreachBatch(
            merge_upsert_sink(path, ["k"], delete_col="is_del",
                              order_col="ts", app_id="orders-cdc")
        ).trigger(availableNow=True).start()
    """
    from sqltask_spark.operators.merge import (
        TableStore,
        _schema_of,
        merge_into_parquet,
    )

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        src = batch_df
        if order_col is not None:
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(order_col).desc()
            )
            src = (
                src.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        # ONE manifest read serves the projection and the ledger check
        try:
            m = TableStore(batch_df.sparkSession, table_path).committed()
        except ValueError:
            raise ValueError(
                f"no committed table at {table_path} — create it"
                " with create_parquet_table before streaming into it"
            ) from None
        # CDC envelopes carry sequencing metadata the table doesn't
        # store — project onto the committed schema (+ delete flag)
        keep = [f.name for f in _schema_of(m).fields]
        if delete_col is not None:
            keep.append(delete_col)
        src = src.select(*keep)
        # the epoch's one driver round trip (see the docstring)
        from sqltask_spark.data import collect_local, content_fingerprint
        from sqltask_spark.operators import index_fs

        local = collect_local(src, index_fs.SMALL_BATCH_CAP)
        if local is not None:
            src = local
        fingerprint = content_fingerprint(src, keep)
        prefix = f"{app_id}:epoch-{epoch_id}"
        ledger_id = f"{prefix}#{fingerprint}"
        committed = m.get("batches", [])
        stale = [
            b for b in committed
            if b.split("#", 1)[0] == prefix and b != ledger_id
        ]
        if stale:
            raise ValueError(
                f"merge_upsert_sink: ledger already holds {prefix} "
                f"with DIFFERENT batch content ({stale[0]!r} vs "
                f"{ledger_id!r}). Epoch ids restart from 0 on a "
                "fresh/changed checkpoint and collide across queries "
                "— pass a distinct app_id per logical stream instead "
                "of silently dropping this batch."
            )
        merged = merge_into_parquet(
            batch_df.sparkSession,
            table_path,
            src,
            key_cols,
            batch_id=ledger_id,
            delete_col=delete_col,
        )
        # sync BEFORE maintenance: a vacuum that dropped the manifest
        # version a sync marker resumes from would wedge the stream
        # permanently ('version does not exist' on every restart,
        # ledger-skipped merge, marker never advances). Order alone
        # is not enough — maintenance compaction commits a NEWER
        # version, so keep_versions=1 would still drop the marker's
        # — hence the vacuum floor passed below.
        if sync_indexes:
            from sqltask_spark.operators.index_sync import (
                last_synced_seq,
                sync_ivf_index_with_table,
                sync_minhash_index_with_table,
            )

            spark = batch_df.sparkSession
            to_seq = merged["seq"]
            for spec in sync_indexes:
                kind = spec["kind"]
                if kind not in ("minhash", "ivf"):
                    raise ValueError(
                        f"sync_indexes: unknown kind {kind!r}"
                        " (expected 'minhash' or 'ivf')"
                    )
                from_seq = last_synced_seq(
                    spark, spec["index_path"], table_path, kind
                )
                if from_seq is None:
                    from_seq = spec.get("seed_from_seq")
                if from_seq is None:
                    raise ValueError(
                        f"sync_indexes: index {spec['index_path']}"
                        f" has no synced marker for {table_path} and"
                        " no seed_from_seq — pass the table version"
                        " the index was built from (0 for an index"
                        " built from the table's seed data)"
                    )
                sync_fn = (
                    sync_minhash_index_with_table
                    if kind == "minhash"
                    else sync_ivf_index_with_table
                )
                sync_fn(
                    spark,
                    table_path,
                    spec["index_path"],
                    spec["id_col"],
                    spec["payload_col"],
                    from_seq=int(from_seq),
                    to_seq=to_seq,
                )
        if maintenance is not None:
            from sqltask_spark.operators.index_maintenance import (
                maintain_parquet_table,
            )

            spark = batch_df.sparkSession
            kwargs = dict(maintenance)
            if sync_indexes:
                # every marker now equals this epoch's post-merge
                # seq; floor the vacuum there so the next epoch's
                # table_changes(from_seq=marker) stays readable even
                # after compaction commits a newer version. A caller
                # floor may only tighten (lower) it, never loosen.
                from sqltask_spark.operators.index_sync import (
                    last_synced_seq,
                )

                floors = [
                    last_synced_seq(
                        spark, spec["index_path"], table_path,
                        spec["kind"],
                    )
                    for spec in sync_indexes
                ]
                # an empty first window commits no marker; the next
                # epoch resumes from seed_from_seq, so floor there
                floor = min(
                    f if f is not None
                    else int(s.get("seed_from_seq", 0))
                    for f, s in zip(floors, sync_indexes)
                )
                caller = kwargs.get("vacuum_min_keep_seq")
                kwargs["vacuum_min_keep_seq"] = (
                    floor if caller is None else min(caller, floor)
                )
            maintain_parquet_table(spark, table_path, **kwargs)

    return upsert
