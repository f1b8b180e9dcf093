"""MERGE INTO for parquet tables — copy-on-write upserts under the
versioned-manifest commit protocol of :mod:`.index_fs`, run by the
same :class:`~.index_fs.GenerationStore` as the persistent indexes:
:class:`TableStore` supplies only the table layout, and every table
function reads, writes, commits and sweeps through the store.

No reference counterpart (north-star extension): the reference's only
write repair is batch-scoped DELETE + INSERT against a live database
(`/root/reference/sqltask/base.py` upload path); plain Spark parquet
has no upsert at all — ``mode("overwrite")`` rewrites the world and a
crash mid-write corrupts readers. This module provides the missing
primitive the way Delta/Iceberg/Hudi do:

- a table is a numbered-manifest directory; the CURRENT state is the
  explicit FILE LIST in the newest parseable manifest (not "whatever
  parquet files exist" — so concurrent readers never see a torn
  write);
- MERGE rewrites ONLY the files that contain matched keys
  (copy-on-write file pruning: at 100 TB a merge touching 0.1% of
  keys rewrites ~0.1% of files, not the table), unions the surviving
  rows with the upserts, writes them as a fresh generation directory,
  and publishes untouched-files + new-files in one manifest write;
- a crash at ANY point before the manifest lands leaves readers on
  the previous state bit-for-bit; debris is swept by the next writer;
- a ``batch_id`` ledger rides in the manifest, so a retried merge of
  an already-committed batch is a NO-OP — the engine-wide W1/L2
  batch-idempotency principle applied to file tables;
- every committed version stays readable (``read_parquet_table(...,
  as_of=seq)`` — time travel) until :func:`vacuum_parquet_table`
  reclaims it;
- manifest keys this module does not own (sync markers, future
  metadata) carry forward through every mutation;
- a table whose every update recomputes its whole state (the sketch
  stores) commits that state as one snapshot write under the same
  ledger and manifest protocol (:func:`fold_parquet_table`), with no
  keyed MERGE of the state into itself.

Scale notes: the driver-side materializations are the touched-file
list (bounded by the table's file count, the same thing the driver
already holds to plan a scan), the per-file [min, max] statistics
(file-count-bounded), the counts row, and ONE bounded collect of the
source's key projection (keys, delete flag, filter positions; at most
:data:`~.index_fs.PROBE_CAP` rows). That collect, grouped on the
driver with Spark's grouping equality, validates source-key
uniqueness (MERGE's standard multiple-rows-matched error) and yields
the prune bounds and probe positions; a source past the cap is
validated with one aggregate instead. A source that plans as a local
relation (the CDC sink's small epochs) is read at no job cost by every
step; any other source is persisted once and feeds the prune, the
validation, the counts, and the rewrite. A rewrite written as one
file observes that file's statistics during the write instead of
reading it back (:meth:`TableStore.write_files`). The matched-file
search itself is bounded by DATA
SKIPPING: when the table declares ``stats_col``, every commit
records per-file [min, max] of that column in the manifest, and a
merge first drops files whose range cannot intersect the batch —
on a range-clustered table the key-column scan reads only the files
the batch can actually touch, not the whole table. Every MERGE
generation and compaction writes as many files as Spark would split a
scan of its estimated size into (:func:`_right_sized`), so a small
merge adds one file instead of one per task and no compaction has to
clean up after it, while a large rewrite keeps its parallelism. The
driver-side fast paths are bounded by :data:`~.index_fs.SMALL_BATCH_CAP`
and :data:`~.index_fs.PROBE_CAP`, read at call time.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame
from sqltask_spark.operators import index_fs

_DATA = "data"


def _rel_of(uri: str) -> str:
    """The committed-relative name (``g…/part-….parquet``) of a data
    file URI such as ``_metadata.file_path``: its last two path parts.
    Generation and part names are plain ASCII, so only the parent
    directories of the URI can be percent-encoded."""
    return "/".join(uri.rsplit("/", 2)[-2:])


def _right_sized(df: DataFrame) -> DataFrame:
    """``df`` narrowed to as many partitions as Spark would split a file
    scan of its estimated size into, so a rewrite writes about one file
    per read split instead of one (tiny) file per task. The split size
    is Spark's own (``FilePartition.maxSplitBytes``): ``min(
    maxPartitionBytes, max(openCostInBytes, size / minPartitionNum))``,
    ``minPartitionNum`` defaulting to the leaf-node parallelism. A
    relation under the open cost becomes one file; a medium one, one
    file per slot; one past ``maxPartitionBytes`` per slot, files of
    ``maxPartitionBytes``. The estimate is Catalyst's ``sizeInBytes`` of the optimized plan:
    the touched files' size for a file scan, the in-memory size for a
    materialized persisted relation. The narrowing is a ``coalesce``
    (no shuffle, no extra job); an unknown estimate (the plan's
    default size, e.g. an unmaterialized RDD-backed relation) leaves
    ``df`` as it is, and so does one scaled down from it (an aggregate
    over such a relation) past any real partition count."""
    session = df.sparkSession._jsparkSession
    conf = session.sessionState().conf()
    size = int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    if size >= conf.defaultSizeInBytes():
        return df
    min_parts = conf.filesMinPartitionNum()
    slots = (
        min_parts.get()
        if min_parts.isDefined()
        else session.leafNodeDefaultParallelism()
    )
    split = min(
        conf.filesMaxPartitionBytes(),
        max(conf.filesOpenCostInBytes(), size // slots),
    )
    parts = -(-size // split)
    return df if parts >= 1 << 31 else df.coalesce(max(1, parts))


def _one_partition(df: DataFrame) -> bool:
    """True iff ``df``'s plan fixes ONE output partition before any job
    runs: a ``coalesce(1)`` or ``repartition(1)`` at its root."""
    plan = df._jdf.queryExecution().logical()
    return plan.nodeName() == "Repartition" and plan.numPartitions() == 1


def _schema_of(manifest: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(manifest["schema"]))


def _nullable_norm(dt):
    """Type equality modulo nullability, recursively: nullability is
    a property of the data (unionByName reconciles it), not a parquet
    physical-type conflict."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable_norm(f.dataType), True)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_norm(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _nullable_norm(dt.keyType), _nullable_norm(dt.valueType), True
        )
    return dt


def _check_columns(m: dict, fields: list, what: str) -> None:
    """Raise unless ``fields`` are the columns of the table whose
    manifest is ``m``, with its types — zero jobs. Name match is not
    enough: a mistyped column (int where the table holds long/string)
    would survive unionByName widening and publish a generation whose
    parquet physical types conflict with the manifest schema —
    committed, then unreadable for every reader. So fail loudly
    BEFORE any work (nullability is a property of the data, not the
    type — ignored)."""
    want = {f.name: _nullable_norm(f.dataType) for f in _schema_of(m).fields}
    have = [f.name for f in fields]
    if sorted(have) != sorted(want):
        raise ValueError(
            f"{what} columns {sorted(have)} do not match the table"
            f" schema {sorted(want)} — project it onto the table's"
            f" columns first"
        )
    bad = [
        (f.name, f.dataType.simpleString(), want[f.name].simpleString())
        for f in fields
        if _nullable_norm(f.dataType) != want[f.name]
    ]
    if bad:
        raise ValueError(
            f"{what} column types do not match the table schema:"
            + "; ".join(
                f" {n} is {got}, table has {exp}" for n, got, exp in bad
            )
            + " — cast it first"
        )


def stats_prunable(ent, bounds: dict | None, probe_pos) -> bool:
    """True iff the data file whose manifest ``stats`` entry is
    ``ent`` (``[lo, hi]``, or ``[lo, hi, filter words]``) PROVABLY
    holds none of the looked-up keys: the entry read as generation
    stats by :func:`~.index_fs.generation_prunable`, against the keys'
    ``{"min_id", "max_id"}`` ``bounds`` and their filter ``probe_pos``
    (either may be ``None``). A file without an entry stays a
    candidate — correctness never depends on the stats."""
    if not ent or ent[0] is None:
        return False
    st = {"min_id": ent[0], "max_id": ent[1]}
    if len(ent) > 2:
        st["filter"] = {
            "k": index_fs.ID_FILTER_K,
            "bits": index_fs.ID_FILTER_WORDS * 64,
            "words": ent[2],
        }
    return index_fs.generation_prunable(st, bounds, probe_pos)


class TableStore(index_fs.GenerationStore):
    """A versioned table on the shared generation protocol. Layout::

        manifests/manifest-*.json       the commit points
        data/g000001/part-*.parquet     the files one create, merge or
                                        compaction wrote

    The manifest keys are the table's own: ``files`` (the committed
    file names relative to ``data/``), ``schema``, and — with a
    declared ``stats_col`` — the per-file ``stats`` ``[min, max(,
    key filter words)]``: the stats Delta/Iceberg keep per data file
    plus the same tiny key Bloom filter the index generations carry;
    a table created with ``params`` keeps its frozen parameters there.
    The layout hooks reference data FILES, so a merge's untouched
    files stay committed while its touched ones drop out. Every
    version stays readable until a vacuum drops its manifest:
    compaction is no retention boundary here, and no time-travel read
    checks a file's existence."""

    gen_dir = _DATA

    def dirs(self):
        return (_DATA,)

    def referenced(self, m):
        return {f"{_DATA}/{rel}" for rel in m.get("files", [])}

    def unreadable(self, m):
        return []

    def retire(self, m):
        pass

    def census(self, m):
        files = m.get("files", [])
        by_gen: dict[str, set[str]] = {}
        for rel in files:
            gen, _, name = rel.partition("/")
            by_gen.setdefault(gen, set()).add(name)
        # ONE listStatus per generation directory, not one
        # getFileStatus RPC per file — on object stores the per-file
        # form costs tens of ms × n_files per maintenance check,
        # which would contradict the cheap-no-op contract
        fs, _ = index_fs._fs(self.spark, self.path)
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path
        total = sum(
            st.getLen()
            for gen, names in by_gen.items()
            for st in fs.listStatus(hpath(self.gen_path(gen)))
            if st.getPath().getName() in names
        )
        return {
            "n_files": len(files),
            "total_bytes": total,
            "mean_file_bytes": total // len(files) if files else 0,
        }

    def compacted(self, m, gen):
        files, stats = [], {}
        if m.get("files"):
            files, stats = self.write_files(m, _right_sized(self.read(m)), gen)
        return self.files_update(m, files, stats)

    def read(self, m: dict, rels: "list[str] | None" = None) -> DataFrame:
        """The rows of the committed files ``rels`` (default: every
        file of ``m``), planned with the manifest schema — zero
        jobs."""
        rels = m.get("files", []) if rels is None else rels
        if not rels:
            return local_frame(self.spark, [], _schema_of(m))
        return self.spark.read.schema(_schema_of(m)).parquet(
            *[f"{self.path}/{_DATA}/{rel}" for rel in rels]
        )

    def write_files(
        self, m: dict, df: DataFrame, gen: str | None = None
    ) -> "tuple[list[str], dict]":
        """Write ``df`` as the fresh generation ``gen`` through the
        store's write path. Returns its committed file names and, when
        ``m`` declares ``stats_col``, their stats entries.

        When ``df``'s plan already fixes ONE output partition (what
        :func:`_right_sized` makes of a small rewrite), the write
        itself observes the new file's stats
        (:func:`~.index_fs.observed_stats_aggs`): no job reads the
        file back. Otherwise — several files, or a write that split
        its one partition into several files — ONE skinny aggregate
        over the new files derives them, :func:`~.index_fs._stats_agg`
        grouped by data file. Both give identical entries."""
        gen = gen or self._allocator(m)()
        col = m.get("stats_col")
        observed = None
        if col is not None and _one_partition(df):
            observed = Observation()
            df = df.observe(observed, *index_fs.observed_stats_aggs(col))
        self.write(df, self.gen_rel(gen))
        files = [
            f"{gen}/{n}"
            for n in index_fs.list_names(self.spark, self.gen_path(gen))
            if n.endswith(".parquet")
        ]
        if col is None or not files:
            return files, {}
        if observed is not None and len(files) == 1:
            per_file = {files[0]: index_fs.stats_from_observed(observed.get)}
        else:
            per_file = {
                _rel_of(uri): st
                for uri, st in index_fs._stats_agg(
                    self.read(m, files).select(
                        F.col("_metadata.file_path").alias("__file"), col
                    ),
                    col,
                    by="__file",
                ).items()
            }
        return files, {
            rel: [st["min_id"], st["max_id"]]
            + ([st["filter"]["words"]] if "filter" in st else [])
            for rel, st in per_file.items()
            if st
        }

    @staticmethod
    def files_update(m: dict, files: list, stats: dict) -> dict:
        """The manifest updates that commit ``files`` (with their
        ``stats`` when ``m`` declares ``stats_col``)."""
        if m.get("stats_col") is None:
            return {"files": files}
        return {"files": files, "stats": stats}


def create_parquet_table(
    df: DataFrame,
    path: str,
    batch_id: str | None = None,
    stats_col: str | None = None,
    params: dict | None = None,
) -> None:
    """Materialize ``df`` as version 0 of a merge-able table.

    ``stats_col`` declares the column (typically the merge key) for
    which every commit records per-file [min, max] in the manifest —
    the data-skipping statistics that let MERGE find its matched
    files WITHOUT scanning the whole table's key column. Cluster the
    data on that column (``repartitionByRange``) for the stats to
    prune; an unclustered table keeps correct but overlapping ranges.
    Only orderable JSON-stable types (integers, strings) are
    supported.

    When ``stats_col`` is declared it is the merge key, and the seed
    must be key-unique — MERGE validates every SOURCE but never
    re-validates the table, and both the change feed's pre/post join
    and the file-pruning assumption (a key lives in exactly one file)
    require it. Enforced here with one aggregate action, the same
    loud error MERGE raises for a duplicate-key source.

    ``params`` records the table's frozen parameters (a sketch
    store's capacity, bucket layout or ``k``) in the manifest, outside
    its rows: every commit carries them forward, and
    :func:`fold_parquet_table` hands them to each fold.
    """
    spark = df.sparkSession
    if index_fs.list_manifest_seqs(spark, path):
        raise ValueError(f"table already exists at {path}")
    if stats_col is not None:
        dup = (
            df.groupBy(stats_col)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"create_parquet_table: seed data has duplicate"
                f" {stats_col}={dup[0][stats_col]!r} — the declared"
                f" stats/merge key must be unique (MERGE, the change"
                f" feed, and file pruning all assume one row per key)"
            )
    store = TableStore(spark, path)
    head = {
        "batches": [batch_id] if batch_id else [],
        "schema": df.schema.json(),
    }
    if stats_col is not None:
        head["stats_col"] = stats_col
    if params is not None:
        head["params"] = dict(params)
    files, stats = store.write_files(head, df)
    store.commit(None, {**head, **store.files_update(head, files, stats)})


def read_parquet_table(
    spark: SparkSession,
    path: str,
    as_of: int | None = None,
    as_of_ts: int | None = None,
) -> DataFrame:
    """The committed table state — newest, the exact manifest
    ``as_of`` (time travel; raises when that version was vacuumed or
    never existed), or TIMESTAMP AS OF ``as_of_ts`` (epoch millis —
    resolved to the newest version committed at or before that wall
    time via the manifests' ``_committed_at`` stamps)."""
    store = TableStore(spark, path)
    return store.read(store.committed(as_of, as_of_ts))


def read_parquet_table_keys(
    spark: SparkSession,
    path: str,
    keys: list,
    as_of: int | None = None,
    as_of_ts: int | None = None,
) -> DataFrame:
    """Point-lookup read: the committed rows whose ``stats_col``
    value is in ``keys``, scanning ONLY the files the manifest's
    per-file statistics cannot rule out — [min, max] range plus the
    per-file key Bloom filter (r12), so the lookup stays
    file-bounded on BOTH range-clustered and hashed layouts. The
    serving-state primitive: fetching K users' current rows from a
    100 TB SCD2/state table must open a handful of files, not list
    the table through a full scan.

    ``keys`` is a driver-side list (a point lookup is by definition
    driver-small; for relation-sized key sets use a join against
    :func:`read_parquet_table` — that is a different query shape).
    Requires the table to declare ``stats_col``
    (:func:`create_parquet_table`); correctness never depends on the
    stats — files without statistics stay candidates.

    ``as_of`` / ``as_of_ts`` time-travel exactly as in
    :func:`read_parquet_table` ("what was this user's row yesterday"
    — the wall-clock axis matters most on serving state)."""
    store = TableStore(spark, path)
    m = store.committed(as_of, as_of_ts)
    stats_col = m.get("stats_col")
    if stats_col is None:
        raise ValueError(
            f"table at {path} declares no stats_col — point lookups"
            " need the per-file key statistics recorded at write"
            " time (create_parquet_table(..., stats_col=...))"
        )
    files = m.get("files", [])
    if not files or not keys:
        return store.read(m, [])
    # the keys are driver-side already: under the cap, collect their
    # positions from the local relation they plan as — the optimizer
    # folds the projection into it, so the collect runs no job
    probe_pos = None
    if len(keys) <= index_fs.PROBE_CAP:
        key_type = _schema_of(m)[stats_col].dataType.simpleString()
        key_df = local_frame(
            spark, [(k,) for k in keys], f"{stats_col} {key_type}"
        )
        probe_pos = [
            (int(r[0]), int(r[1]))
            for r in key_df.select(
                *index_fs.filter_pos_cols(stats_col)
            ).collect()
        ]
    bounds = {"min_id": min(keys), "max_id": max(keys)}
    stats = m.get("stats", {})
    candidates = [
        rel for rel in files
        if not stats_prunable(stats.get(rel), bounds, probe_pos)
    ]
    return store.read(m, candidates).filter(F.col(stats_col).isin(keys))


def trim_batch_ledger(
    spark: SparkSession, path: str, keep: int
) -> int:
    """Truncate the manifest's batch LEDGER to the newest ``keep``
    ids — the missing retention axis (r12): version vacuums bound
    the MANIFEST COUNT, but the ``batches`` list itself accumulates
    one string per ingest epoch in every newer manifest, so a
    year-long minute-cadence stream carries ~0.5M ledger entries
    (megabytes parsed on EVERY read). Returns the number trimmed;
    no-op (and no commit) when already within bound.

    Correctness contract — ``keep`` must exceed the redelivery
    horizon of the source (the standard ledger-truncation trade,
    exactly as stream processors bound their dedup state): a replay
    YOUNGER than the kept tail still ledger-skips; one OLDER than it
    re-applies, which converges for idempotent mutations (MERGE with
    the same content lands on the same state; the index appends have
    the anti-join backstop) but DOUBLE-COUNTS a non-idempotent SUM
    fold (the histogram store) — size ``keep`` accordingly there.
    One manifest-only commit, everything else carried forward."""
    return TableStore(spark, path).trim(keep)


def table_history(spark: SparkSession, path: str) -> list[dict]:
    """(seq, n_files, batches) per committed version, ascending."""
    return [
        {
            "seq": m["_seq"],
            "n_files": len(m.get("files", [])),
            "batches": list(m.get("batches", [])),
        }
        for m in index_fs.read_all_manifests(spark, path)
    ]


def table_schema(spark: SparkSession, path: str):
    """The committed schema of the table at ``path``."""
    return _schema_of(TableStore(spark, path).committed())


def merge_into_parquet(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    batch_id: str | None = None,
    delete_col: str | None = None,
) -> dict:
    """MERGE ``source`` into the table at ``path``.

    Semantics (one source row per key, validated):

    - key matches a target row → the source row REPLACES it
      (``when matched then update``), unless ``delete_col`` names a
      boolean source column and it is true → the target row is
      removed (``when matched and <cond> then delete``);
    - key matches nothing → the source row is inserted, unless it is
      a delete marker (those are no-ops, counted separately).

    Returns ``{"inserted", "updated", "deleted", "noop_deletes",
    "rewritten_files", "stats_pruned_files", "total_files",
    "skipped", "seq"}``. ``skipped=True`` means the batch ledger
    already holds ``batch_id`` (idempotent retry — nothing was
    written); ``seq`` is the version this MERGE committed, or on a
    skip the version whose ledger held ``batch_id``;
    ``stats_pruned_files`` counts files excluded from the matched-file
    search by the manifest's per-file [min, max] statistics without
    being read at all (see :func:`create_parquet_table`).
    """
    store = TableStore(spark, path)
    m = store.committed()
    if batch_id is not None and batch_id in m.get("batches", []):
        return {
            "inserted": 0,
            "updated": 0,
            "deleted": 0,
            "noop_deletes": 0,
            "rewritten_files": 0,
            "stats_pruned_files": 0,
            "total_files": len(m.get("files", [])),
            "skipped": True,
            "seq": m["_seq"],
        }
    store.sweep()

    is_del = (
        F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
        if delete_col is not None
        else F.lit(False)
    )
    src = source.withColumn("__is_del", is_del)
    if delete_col is not None:
        src = src.drop(delete_col)
    _check_columns(
        m, [f for f in src.schema.fields if f.name != "__is_del"],
        "MERGE source",
    )
    # a source that plans as a local relation (the CDC sink's small
    # epochs) is driver-resident already: every read below folds into
    # it, and persisting it would only cost a job
    local = _is_local(src)
    if not local:
        src = src.persist()
    try:
        files = m.get("files", [])
        stats_col = m.get("stats_col")

        # ONE bounded collect of the source's key projection — keys,
        # delete flag and, when the table prunes by filter, the keys'
        # filter-probe positions — grouped on the driver with Spark's
        # grouping equality (:func:`_exact`). It serves the MERGE
        # duplicate-key check, the per-key delete flags of the decide
        # fast path, the batch's [lo, hi] key bounds for file-range
        # pruning and the positions for per-file Bloom pruning (for
        # the key column, rows ≡ keys once the dup check passes). Over
        # a local relation the collect runs no job. A source past the
        # collect cap keeps the aggregate formulation.
        probe_on = bool(files) and stats_col in key_cols
        extra = []
        if probe_on:
            p0, p1 = index_fs.filter_pos_cols(stats_col)
            extra = [p0.alias("__p0"), p1.alias("__p1")]
        key_rows = (
            src.select(*key_cols, "__is_del", *extra)
            .limit(index_fs.PROBE_CAP + 1)
            .collect()
        )
        capped = len(key_rows) > index_fs.PROBE_CAP
        if capped:
            dup = (
                src.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("__c"))
                .filter(F.col("__c") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                _raise_duplicate([dup[0][k] for k in key_cols])
        else:
            seen = set()
            for r in key_rows:
                k = _exact(tuple(r[c] for c in key_cols))
                if k in seen:
                    _raise_duplicate(
                        [_grouped(r[c]) for c in key_cols]
                    )
                seen.add(k)

        src_keys = src.select(*key_cols).distinct()

        # DATA SKIPPING: when the manifest carries per-file [min, max]
        # of a key column, prune candidate files by range BEFORE any
        # scan — at 100 TB the matched-file search must not read the
        # whole table's key column, and on a range-clustered table
        # this bounds it to the files the batch can actually touch.
        # A file without stats (or with an all-null key) stays a
        # candidate; correctness never depends on the stats.
        stats = m.get("stats", {})
        candidates = files
        stats_pruned = 0
        if probe_on:
            if capped:
                b = src.agg(
                    F.min(stats_col).alias("lo"),
                    F.max(stats_col).alias("hi"),
                ).collect()[0]
                lo, hi = b["lo"], b["hi"]
            else:
                ks = [
                    r[stats_col]
                    for r in key_rows
                    if r[stats_col] is not None
                ]
                lo, hi = (min(ks), max(ks)) if ks else (None, None)
            if lo is None:
                candidates = []
            else:
                # content pruning: per-file key Bloom filters (third
                # stats element, r12) catch what [min,max] cannot —
                # hashed/interleaved keys make every file's range
                # span the key space. The batch keys' hash positions
                # came back with the same collect; a batch past the
                # cap falls back to range-only (it touches most files
                # anyway). Old-format 2-element stats entries prune
                # by range alone — correctness never depends on
                # either statistic.
                probe_pos = (
                    None
                    if capped
                    else [
                        (int(r["__p0"]), int(r["__p1"]))
                        for r in key_rows
                        if r[stats_col] is not None
                    ]
                )
                bounds = {"min_id": lo, "max_id": hi}
                candidates = [
                    rel for rel in files
                    if not stats_prunable(stats.get(rel), bounds, probe_pos)
                ]
            stats_pruned = len(files) - len(candidates)

        # SMALL-BATCH decide fast path (r12 session 3, guide §1.2 +
        # §2.4): with every source key already collected (single key
        # column, int/str keys, under the inline cap), the matched-row
        # search is ONE narrow pushdown scan of the candidate files
        # (`key IN (batch keys)` — exact membership, no exchange, and
        # the IN pushes to parquet as a range past the pushdown
        # threshold) instead of the full-outer decide join, whose two
        # sort exchanges + aggregate cost 3-4 AQE stage jobs per merge
        # — per EPOCH in the CDC loops. Counts and the touched-file
        # set derive driver-side from the hit rows exactly as the join
        # classified them (hit rows are target rows whose key the
        # batch carries — bounded by the batch for the key-unique
        # tables every MERGE maintains). Larger batches, multi-column
        # keys, and exotic key types keep the join formulation.
        kc = key_cols[0]
        inline_keys: list | None = None
        if (
            not capped
            and len(key_cols) == 1
            and len(key_rows) <= index_fs.SMALL_BATCH_CAP
            and all(
                r[kc] is None
                or (
                    isinstance(r[kc], (int, str))
                    and not isinstance(r[kc], bool)
                )
                for r in key_rows
            )
        ):
            inline_keys = [
                r[kc] for r in key_rows if r[kc] is not None
            ]
        touched_rels: list[str] = []
        if candidates and inline_keys is not None:
            tgt = store.read(m, candidates)
            hit_rows = (
                tgt.select(
                    F.col(kc).alias("__k"),
                    F.col("_metadata.file_path").alias("__file"),
                )
                .filter(
                    F.col("__k").isin(inline_keys)
                    if inline_keys
                    else F.lit(False)
                )
                .collect()
            )
            # classify exactly as the full-outer join did: a target
            # row whose key the batch carries is matched (null keys
            # never match on either side); a batch key with no target
            # row is source-only
            del_of = {r[kc]: r["__is_del"] for r in key_rows}
            matched_keys = {r["__k"] for r in hit_rows}
            counts_row = {
                "updated": sum(
                    1 for r in hit_rows if not del_of[r["__k"]]
                ),
                "deleted": sum(1 for r in hit_rows if del_of[r["__k"]]),
                "inserted": sum(
                    1
                    for r in key_rows
                    if r[kc] not in matched_keys and not r["__is_del"]
                ),
                "noop_deletes": sum(
                    1
                    for r in key_rows
                    if r[kc] not in matched_keys and r["__is_del"]
                ),
            }
            touched = {_rel_of(r["__file"]) for r in hit_rows}
            touched_rels = [rel for rel in candidates if rel in touched]
        elif candidates:
            # ONE decide job (r12, guide §2.4): the matched-file
            # search and the insert/update/delete counts both derive
            # from the same key-level src ⋈ target relation, so
            # compute them in a single full-outer join + aggregate.
            # src rows carry a non-null __is_del (coalesced at entry),
            # target rows a non-null _metadata.file_path — null-ness
            # of the opposite side classifies every row; the
            # touched-file set rides the same aggregate as a
            # file-count-bounded collect_set.
            tgt = store.read(m, candidates)
            j = tgt.select(
                *key_cols, F.col("_metadata.file_path").alias("__file")
            ).join(
                src.select(*key_cols, "__is_del"),
                key_cols,
                "full_outer",
            )
            matched = (
                F.col("__file").isNotNull()
                & F.col("__is_del").isNotNull()
            )
            src_only = F.col("__file").isNull()
            counts_row = j.agg(
                F.sum(
                    (matched & ~F.col("__is_del")).cast("long")
                ).alias("updated"),
                F.sum(
                    (matched & F.col("__is_del")).cast("long")
                ).alias("deleted"),
                F.sum(
                    (src_only & ~F.col("__is_del")).cast("long")
                ).alias("inserted"),
                F.sum(
                    (src_only & F.col("__is_del")).cast("long")
                ).alias("noop_deletes"),
                F.collect_set(
                    F.when(matched, F.col("__file"))
                ).alias("touched"),
            ).collect()[0]
            touched = {_rel_of(u) for u in counts_row["touched"] or []}
            touched_rels = [rel for rel in candidates if rel in touched]
        elif not capped:
            # nothing to match against + keys in hand: zero jobs
            counts_row = {
                "updated": 0,
                "deleted": 0,
                "inserted": sum(1 for r in key_rows if not r["__is_del"]),
                "noop_deletes": sum(1 for r in key_rows if r["__is_del"]),
            }
        else:
            counts_row = src.agg(
                F.lit(0).cast("long").alias("updated"),
                F.lit(0).cast("long").alias("deleted"),
                F.sum((~F.col("__is_del")).cast("long")).alias(
                    "inserted"
                ),
                F.sum(F.col("__is_del").cast("long")).alias(
                    "noop_deletes"
                ),
            ).collect()[0]
        touched = set(touched_rels)
        untouched = [rel for rel in files if rel not in touched]

        if touched_rels:
            touched_df = store.read(m, touched_rels)
            if inline_keys is not None:
                # exact anti-join semantics as a FILTER: null target
                # keys never match (kept, as the anti-join kept them);
                # non-null keys survive iff outside the batch key set
                survivors = touched_df.filter(
                    F.col(kc).isNull() | ~F.col(kc).isin(inline_keys)
                )
            else:
                survivors = touched_df.join(
                    src_keys, key_cols, "left_anti"
                )
        else:
            survivors = None

        upserts = src.filter(~F.col("__is_del")).drop("__is_del")
        new_data = (
            upserts
            if survivors is None
            else survivors.unionByName(upserts)
        )
        # non-empty is already known when the batch carries any upsert
        # (inserted/updated counts them); only a delete-only batch
        # needs the probe job to learn whether survivors exist
        n_new = (
            1
            if (counts_row["inserted"] or 0)
            or (counts_row["updated"] or 0)
            else new_data.limit(1).count()
        )
        new_files, new_stats = (
            store.write_files(m, _right_sized(new_data))
            if n_new
            else ([], {})
        )
        # THE commit — everything above is invisible until this line
        seq = store.commit(m, {
            **store.files_update(
                m,
                untouched + new_files,
                {**{r: stats[r] for r in untouched if r in stats},
                 **new_stats},
            ),
            "batches": m.get("batches", [])
            + ([batch_id] if batch_id else []),
        })
        return {
            "inserted": int(counts_row["inserted"] or 0),
            "updated": int(counts_row["updated"] or 0),
            "deleted": int(counts_row["deleted"] or 0),
            "noop_deletes": int(counts_row["noop_deletes"] or 0),
            "rewritten_files": len(touched_rels),
            "stats_pruned_files": stats_pruned,
            "total_files": len(untouched + new_files),
            "skipped": False,
            "seq": seq,
        }
    finally:
        if not local:
            src.unpersist()


def fold_parquet_table(
    spark: SparkSession,
    path: str,
    fold: Callable[[DataFrame, dict], DataFrame],
    batch_id: str | None = None,
    params: dict | None = None,
) -> dict:
    """Replace the state of the table at ``path`` with ``fold(rows,
    params)``, ``rows`` being its committed rows and ``params`` the
    frozen parameters of the same manifest: the snapshot commit of a
    table whose every update recomputes the whole state (the sketch
    stores' lattice folds, :mod:`.sketch_store`). ``fold`` returns the
    COMPLETE next state in the table's columns — with a declared
    ``stats_col``, one row per key. Nothing is matched, counted or
    carried over, so an update costs the fold's own plan plus one
    write, not a keyed MERGE of the full state into itself.

    ``params`` given here (a rebuild's new capacity or width) update
    the committed ones: the fold sees the updated set, and the commit
    publishes it together with the state it shaped, so no version
    pairs new parameters with old rows.

    The ledger check, the read, the write and the commit all run
    against ONE manifest read: a writer that commits in between takes
    the next manifest slot, and this commit then fails loudly on the
    create-exclusive slot instead of overwriting that writer's state.

    Returns ``{"skipped", "rewritten_files", "total_files"}``:
    ``skipped=True`` means the batch ledger already holds
    ``batch_id`` (nothing was read, written or committed);
    ``rewritten_files`` counts the committed files the new state
    replaces, ``total_files`` the files it was written to."""
    store = TableStore(spark, path)
    m = store.committed()
    files = m.get("files", [])
    if batch_id is not None and batch_id in m.get("batches", []):
        return {"skipped": True, "rewritten_files": 0,
                "total_files": len(files)}
    store.sweep()
    params_next = {**m.get("params", {}), **(params or {})}
    state = fold(store.read(m), params_next)
    _check_columns(m, state.schema.fields, "fold state")
    cols = [f.name for f in _schema_of(m).fields]
    new_files, new_stats = store.write_files(
        m, _right_sized(state.select(*cols))
    )
    # THE commit — everything above is invisible until this line
    store.commit(m, {
        **store.files_update(m, new_files, new_stats),
        "batches": m.get("batches", []) + ([batch_id] if batch_id else []),
        **({"params": params_next} if params else {}),
    })
    return {"skipped": False, "rewritten_files": len(files),
            "total_files": len(new_files)}


_NAN = object()


def _exact(v):
    """``v`` normalised so that Python ``==`` and ``hash`` are Spark's
    ``<=>`` and its grouping equality: NaN equals NaN, through arrays
    and structs (``Row`` is a tuple), which become (hashable) tuples;
    binary values become ``bytes``. Nulls (``None``) and -0.0 == 0.0
    already compare and hash so."""
    if isinstance(v, float):
        return _NAN if v != v else v
    if isinstance(v, (list, tuple)):
        return tuple(_exact(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _grouped(v):
    """``v`` as Spark's grouping reports its group: -0.0 groups with
    0.0 and shows as 0.0."""
    return 0.0 if isinstance(v, float) and v == 0 else v


def _raise_duplicate(key: list):
    raise ValueError(f"MERGE source has multiple rows for key {key}")


def _is_local(df: DataFrame) -> bool:
    """True iff ``df`` optimizes to a local relation: driver-resident
    rows, which every projection, filter and limit folds into — no
    Spark job to read them."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.nodeName() == "LocalRelation"


def table_changes(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    from_seq: int,
    to_seq: int | None = None,
) -> DataFrame:
    """See :func:`table_changes_classified` — this is the DataFrame
    half of it (the public CDF read API)."""
    return table_changes_classified(
        spark, path, key_cols, from_seq, to_seq
    )[0]


def table_changes_classified(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    from_seq: int,
    to_seq: int | None = None,
) -> "tuple[DataFrame, dict | None]":
    """Row-level change feed between two committed versions — the
    read-side complement of time travel (Delta's CDF shape): an
    incremental consumer asks "what changed since version N" instead
    of diffing snapshots.

    Scale shape: rows living in files CARRIED between the two
    manifests cannot have changed (merges rewrite whole files), so
    only the file-level manifest diff is read — removed files hold
    the pre-images, added files the post-images — and the join is
    bounded by the data the merges actually touched, never the table.
    Survivor rows that merely moved files during a rewrite fall out
    as all-columns-equal and are filtered.

    Returns ``(changes, by_type)``: the table columns plus
    ``_change_type`` ∈ {'insert', 'delete', 'update_preimage',
    'update_postimage'}, one row per change (two for updates), and —
    when the WINDOW fast path ran — the per-type row counts, sparing
    incremental consumers their counts job (``None`` otherwise; the
    caller counts).

    WINDOW fast path (r12 session 3): when both manifest-diff sides
    fit a bounded collect (single int/str key, no null keys, at most
    :data:`~.index_fs.SMALL_BATCH_CAP` rows a side), each side's
    ``(key, *values)`` rows are pulled driver-side and classified
    there by EXACT value comparison with the all-columns ``<=>``
    semantics (nulls equal, NaN equals NaN, -0.0 equals 0.0, nested
    through arrays and structs); the returned relation is then
    four FILTERED reads of the window files (no exchange at all)
    instead of the full-outer join + 4-way union, which cost 3-4 AQE
    stage jobs per CDC epoch. Row-identical output.

    Precondition: ``key_cols`` uniquely identify rows in every
    compared version. MERGE enforces this for every merged source,
    and ``create_parquet_table`` enforces it on the seed when
    ``stats_col`` (the merge key) is declared — a table seeded with
    duplicate keys outside that path would make the pre/post
    full-outer join explode rows and misclassify changes.
    """
    store = TableStore(spark, path)
    m_from = store.committed(from_seq)
    m_to = store.committed(to_seq)
    cols = [f.name for f in _schema_of(m_to).fields]
    val_cols = [c for c in cols if c not in key_cols]
    removed = sorted(set(m_from.get("files", [])) - set(m_to.get("files", [])))
    added = sorted(set(m_to.get("files", [])) - set(m_from.get("files", [])))

    # ---- WINDOW fast path: bounded collect + driver classification
    kc = key_cols[0]
    cap = index_fs.SMALL_BATCH_CAP

    def _side(rels):
        if not rels:
            return []
        rows = (
            store.read(m_to, rels)
            .select(kc, *val_cols)
            .limit(cap + 1)
            .collect()
        )
        return None if len(rows) > cap else rows

    if len(key_cols) == 1:
        pre_rows = _side(removed)
        post_rows = _side(added) if pre_rows is not None else None
        if pre_rows is not None and post_rows is not None:
            ok = all(
                r[0] is not None
                and isinstance(r[0], (int, str))
                and not isinstance(r[0], bool)
                for rows in (pre_rows, post_rows)
                for r in rows
            )
            if ok:
                pre_map = {r[0]: _exact(r[1:]) for r in pre_rows}
                post_map = {r[0]: _exact(r[1:]) for r in post_rows}
                ins_keys = sorted(
                    k for k in post_map if k not in pre_map
                )
                del_keys = sorted(
                    k for k in pre_map if k not in post_map
                )
                upd_keys = sorted(
                    k
                    for k in pre_map
                    if k in post_map and pre_map[k] != post_map[k]
                )
                pre_df = store.read(m_to, removed)
                post_df = store.read(m_to, added)

                def _arm(df, keys, tag):
                    return df.filter(
                        F.col(kc).isin(keys) if keys else F.lit(False)
                    ).select(
                        *key_cols,
                        *val_cols,
                        F.lit(tag).alias("_change_type"),
                    )

                out = (
                    _arm(post_df, ins_keys, "insert")
                    .unionByName(_arm(pre_df, del_keys, "delete"))
                    .unionByName(
                        _arm(pre_df, upd_keys, "update_preimage")
                    )
                    .unionByName(
                        _arm(post_df, upd_keys, "update_postimage")
                    )
                )
                by_type = {
                    "insert": len(ins_keys),
                    "delete": len(del_keys),
                    "update_preimage": len(upd_keys),
                    "update_postimage": len(upd_keys),
                }
                return out, by_type

    pre = store.read(m_to, removed).select(
        *key_cols,
        *[F.col(c).alias(f"__pre_{c}") for c in val_cols],
        F.lit(1).alias("__in_pre"),
    )
    post = store.read(m_to, added).select(
        *key_cols,
        *[F.col(c).alias(f"__post_{c}") for c in val_cols],
        F.lit(1).alias("__in_post"),
    )
    j = pre.join(post, key_cols, "full_outer")
    differs = (
        F.lit(False)
        if not val_cols
        else ~F.expr(
            " AND ".join(
                f"__pre_{c} <=> __post_{c}" for c in val_cols
            )
        )
    )
    ins = j.filter(F.col("__in_pre").isNull()).select(
        *key_cols,
        *[F.col(f"__post_{c}").alias(c) for c in val_cols],
        F.lit("insert").alias("_change_type"),
    )
    dele = j.filter(F.col("__in_post").isNull()).select(
        *key_cols,
        *[F.col(f"__pre_{c}").alias(c) for c in val_cols],
        F.lit("delete").alias("_change_type"),
    )
    upd = j.filter(
        F.col("__in_pre").isNotNull()
        & F.col("__in_post").isNotNull()
        & differs
    )
    upd_pre = upd.select(
        *key_cols,
        *[F.col(f"__pre_{c}").alias(c) for c in val_cols],
        F.lit("update_preimage").alias("_change_type"),
    )
    upd_post = upd.select(
        *key_cols,
        *[F.col(f"__post_{c}").alias(c) for c in val_cols],
        F.lit("update_postimage").alias("_change_type"),
    )
    return (
        ins.unionByName(dele).unionByName(upd_pre).unionByName(
            upd_post
        ),
        None,
    )


def compact_parquet_table(spark: SparkSession, path: str) -> int:
    """Rewrite the current state as ONE fresh generation of
    read-split-sized files (the small-files compaction merges
    accumulate); row-identical, committed atomically. Returns the new
    file count."""
    return len(TableStore(spark, path).compact()["files"])


def add_table_column(
    spark: SparkSession,
    path: str,
    name: str,
    data_type: str,
) -> None:
    """Schema evolution (the add-column half — M2's lake analog for
    versioned tables): commit a manifest whose schema carries the new
    NULLABLE column. No data file is touched — existing files simply
    lack the column and every reader projects it as NULL (the
    explicit read schema makes that uniform across files), while
    subsequent merges carry real values for the rows they rewrite.
    Atomic like every mutation; time travel to older versions keeps
    serving the old schema.

    Drop/rename stay out by design: they change the meaning of bytes
    already on disk, which is a rewrite (:func:`compact_parquet_table`
    after projecting) — the same posture as
    :mod:`sqltask_spark.migration`'s opt-in drop rewrite.
    """
    from pyspark.sql import types as T

    store = TableStore(spark, path)
    m = store.committed()
    schema = _schema_of(m)
    if name in [f.name for f in schema.fields]:
        raise ValueError(f"column {name!r} already exists at {path}")
    added = T.StructType.fromDDL(f"`{name}` {data_type}").fields[0]
    new_schema = T.StructType(
        list(schema.fields)
        + [T.StructField(added.name, added.dataType, True)]
    )
    store.commit(m, {"schema": new_schema.json()})


def vacuum_parquet_table(
    spark: SparkSession, path: str, keep_versions: int = 1,
    min_keep_seq: int | None = None,
) -> dict:
    """Reclaim storage: drop all but the newest ``keep_versions``
    manifests, then delete data files no surviving manifest
    references. Time travel to a vacuumed version errors loudly
    afterwards (the standard retention trade, exactly as table
    formats define it). ``min_keep_seq`` floors retention so
    incremental consumers (CDC sync markers) keep their resume
    version readable — see :func:`index_fs.drop_manifests`."""
    return TableStore(spark, path).vacuum(keep_versions, min_keep_seq)
