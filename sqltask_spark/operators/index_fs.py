"""Versioned-manifest plumbing shared by the persistent indexes and
the MERGE tables.

No reference counterpart (north-star extension; the reference,
``/root/reference/sqltask``, has no index artifacts at all). Both
persistent indexes (:mod:`sqltask_spark.operators.dedup_index`,
:mod:`sqltask_spark.operators.ann_index`) follow the same commit
protocol, the one Delta/Iceberg-style table formats use for exactly
this problem:

- every mutation writes ONLY NEW files (a fresh ``gen=g%06d``
  generation directory; for relations that must be rewritten whole,
  a fresh versioned directory) — nothing a committed reader can see
  is ever modified or truncated in place;
- the mutation becomes visible by writing the next numbered manifest
  (``manifests/manifest-%012d.json``) listing exactly the committed
  generation set. Readers take the NEWEST PARSEABLE manifest, so a
  crash at any point before the manifest lands leaves the index
  serving the pre-append state bit-for-bit, and a torn manifest file
  (partial write) is skipped in favor of its predecessor;
- orphan data directories (written by a crashed append, never named
  by the newest manifest) are detectable mechanically and swept by
  the next writer before it starts.

The indexes and the MERGE tables share ONE implementation of the
mutation protocol built on these pieces, :class:`GenerationStore` (end
of this module); each index kind subclasses it with its payload writers
only, and the tables' :class:`~sqltask_spark.operators.merge.TableStore`
with its file-list layout (the store's layout hooks). Their size caps
are one policy here: :data:`SMALL_BATCH_CAP` bounds the driver-side
fast arms of the index mutations and probe, the MERGE decide, the
change feed and the CDC sink's epoch collect; :data:`PROBE_CAP` bounds
every filter-probe collect (the point lookup's key positions
included), MERGE's collect of its source's key rows and the content
fingerprint's collect.

All filesystem access goes through the Hadoop ``FileSystem`` API of
the live SparkSession — NOT ``os``/``shutil`` — so the identical code
path serves ``file:``, ``hdfs:``, and object stores. Manifests are
created with ``overwrite=False``: on HDFS/posix, two racing writers
cannot both win the same sequence number (create-exclusive), which
turns the documented single-writer contract into a loud error instead
of silent corruption. (On S3 create-exclusivity is weaker; a
production deployment there would layer a conditional-PUT or a lock,
exactly as the table formats do.)
"""

from __future__ import annotations

import itertools
import json
import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame

MANIFEST_DIR = "manifests"
_MANIFEST_FMT = "manifest-%012d.json"


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop
    conf."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def delete_path(spark: SparkSession, path: str) -> None:
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child names under ``path`` (empty when absent)."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(s.getPath().getName() for s in fs.listStatus(p))


def _read_manifest_file(spark: SparkSession, full: str) -> dict | None:
    """Parse one manifest file; ``None`` when torn/unparseable."""
    fs, jp = _fs(spark, full)
    jvm = spark._jvm
    stream = fs.open(jp)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    try:
        data = json.loads(text)
    except ValueError:
        return None
    return data if isinstance(data, dict) else None


def list_manifest_seqs(spark: SparkSession, path: str) -> list[int]:
    """Committed manifest sequence numbers under ``path``, ascending
    (torn files included — they are filtered at read time)."""
    return sorted(
        int(n[len("manifest-"):-len(".json")])
        for n in list_names(spark, f"{path}/{MANIFEST_DIR}")
        if n.startswith("manifest-") and n.endswith(".json")
    )


def read_manifest_at(
    spark: SparkSession, path: str, seq: int
) -> dict | None:
    """The manifest with exactly sequence ``seq`` (time-travel read),
    or ``None`` when absent or torn. Unlike :func:`read_manifest`
    there is no fallback — a travel request names ONE version."""
    full = f"{path}/{MANIFEST_DIR}/{_MANIFEST_FMT % seq}"
    if not path_exists(spark, full):
        return None
    data = _read_manifest_file(spark, full)
    if data is not None:
        data["_seq"] = seq
    return data


def read_all_manifests(spark: SparkSession, path: str) -> list[dict]:
    """Every parseable manifest under ``path``, ascending by seq —
    the union of their file references is what a vacuum/orphan sweep
    must treat as live when older versions stay readable."""
    out = []
    for seq in list_manifest_seqs(spark, path):
        data = read_manifest_at(spark, path, seq)
        if data is not None:
            out.append(data)
    return out


def read_manifest(spark: SparkSession, path: str) -> dict | None:
    """Newest parseable manifest under ``path``, or ``None``.

    A partially written newest file (torn by a crash mid-create) is
    skipped — its predecessor still describes a complete, committed
    index state. The manifest's own sequence number rides along as
    ``_seq`` for the next :func:`commit_manifest`.
    """
    for seq in reversed(list_manifest_seqs(spark, path)):
        data = read_manifest_at(spark, path, seq)
        if data is not None:
            return data  # torn write — fall back to the predecessor
    return None


def commit_manifest(
    spark: SparkSession, path: str, data: dict, prev_seq: int
) -> None:
    """Atomically publish ``data`` as manifest ``prev_seq + 1``.

    ``overwrite=False`` makes the sequence number a create-exclusive
    claim: a second writer racing for the same slot errors instead of
    clobbering (single-writer is the documented contract; this makes
    violating it loud).
    """
    payload = dict(data)
    payload.pop("_seq", None)
    # wall-clock commit stamp for TIMESTAMP-AS-OF reads
    # (:func:`seq_at_timestamp`). Set HERE, at publish, so the
    # carry-forward rule (mutations spread every prior key) can never
    # propagate a stale stamp; seq order stays the authoritative
    # history, the stamp is the advisory wall-clock axis.
    import time

    payload["_committed_at"] = int(time.time() * 1000)
    fs, _ = _fs(spark, path)
    jvm = spark._jvm
    jp = jvm.org.apache.hadoop.fs.Path(
        f"{path}/{MANIFEST_DIR}/{_MANIFEST_FMT % (prev_seq + 1)}"
    )
    out = fs.create(jp, False)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()


def next_gen(manifest: dict | None) -> str:
    """Next generation name after the committed ones (``g%06d``)."""
    gens = (manifest or {}).get("generations", [])
    if not gens:
        return "g%06d" % 0
    return "g%06d" % (1 + max(int(g[1:]) for g in gens))


def drop_manifests(
    spark: SparkSession, path: str, keep_versions: int,
    min_keep_seq: int | None = None,
) -> list[int]:
    """Delete all but the newest ``keep_versions`` manifest files —
    the retention step every vacuum starts with. Returns the dropped
    sequence numbers. Time travel to a dropped version errors loudly
    afterwards (the standard retention trade, exactly as the table
    formats define it). Writer-context only, like every mutation.

    ``min_keep_seq`` is a retention FLOOR: versions >= it survive
    regardless of ``keep_versions``. Incremental consumers (the CDC
    index sync's ``synced`` marker) read ``table_changes(from_seq=
    marker)``, which needs manifest ``marker`` alive — an unclamped
    vacuum racing such a consumer would wedge it permanently on
    'version does not exist'."""
    if keep_versions < 1:
        raise ValueError(
            f"keep_versions must be >= 1, got {keep_versions}"
        )
    seqs = list_manifest_seqs(spark, path)
    drop = seqs[:-keep_versions] if len(seqs) > keep_versions else []
    if min_keep_seq is not None:
        drop = [s for s in drop if s < min_keep_seq]
    for seq in drop:
        delete_path(
            spark, f"{path}/{MANIFEST_DIR}/{_MANIFEST_FMT % seq}"
        )
    return drop


def relation_schemas(**dfs) -> dict:
    """``{relation_name: schema-json}`` for the manifest's reader
    schemas (the MERGE tables' ``schema`` convention, extended to the
    indexes' multi-relation layouts). A read planned with a recorded
    schema costs ZERO Spark jobs; unpinned multi-file reads each pay
    a distributed footer-inference job per call site — fixed overhead
    locally, a real footer sweep at 100 TB."""
    return {name: df.schema.json() for name, df in dfs.items()}


def id_bounds(df, id_col: str) -> dict | None:
    """``{"min_id", "max_id"}`` of ``df[id_col]`` for the manifest's
    per-generation statistics, or ``None`` when the id type is not
    JSON-stable-orderable (only int and str are: their Python
    comparison matches Spark's — numeric order for ints, and UTF-8
    binary order for strings, which equals code-point order). One
    column-pruned aggregate over data the caller is writing anyway.

    The stats serve GENERATION PRUNING for targeted rewrites
    (:func:`~sqltask_spark.operators.dedup_index.unblock_minhash_ids`)
    — a conservative superset range is always valid, so rewrites keep
    a generation's old bounds rather than re-measuring."""
    return _stats_agg(df, id_col)[1]


# Per-generation approximate-membership filter: a tiny Bloom filter
# (k=2, 8192 bits = 128 manifest longs, ~1 KB) recorded alongside the
# [min,max] id range. Range pruning is perfect under monotonic ingest
# ids but degenerates under hashed/interleaved ids (every generation
# spans the id space); the filter prunes by CONTENT, so targeted
# rewrites stay bounded by the generations that actually hold the
# blocked ids regardless of id layout. Saturates (stops pruning,
# stays conservative) past a few thousand ids per generation — the
# change-window generations it exists for sit well under that.
ID_FILTER_WORDS = 128
ID_FILTER_K = 2


def filter_pos_cols(id_col: str):
    """The k hash-bit positions of ``id_col`` — MUST be identical at
    build and probe (xxhash64 is Spark-version-stable and typed: a
    long id and its string form hash differently, consistently)."""
    bits = ID_FILTER_WORDS * 64
    return [
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(bits)),
        F.pmod(F.xxhash64(F.col(id_col), F.lit(1)), F.lit(bits)),
    ]


def explode_pos_rows(df, id_col: str, keep: "tuple[str, ...]" = ()):
    """``(*keep, _id, j, w, m)`` — each row twice, once per hash
    position, carrying the filter word index and bit mask. The sparse
    shape shared by the stats aggregates: grouping these by ``w``
    with ONE ``bit_or`` replaces the 128-expression wide aggregate,
    whose whole-stage codegen compile alone cost ~1.4s PER CALL
    (measured; every index mutation pays the stats action)."""
    p0, p1 = filter_pos_cols(id_col)
    return df.select(
        *keep,
        F.col(id_col).alias("_id"),
        p0.alias("_p0"),
        p1.alias("_p1"),
    ).select(
        *keep,
        "_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("j"), F.col("_p0").alias("p")),
                F.struct(F.lit(1).alias("j"), F.col("_p1").alias("p")),
            )
        ).alias("e"),
    ).select(
        *keep,
        "_id",
        F.col("e.j").alias("j"),
        F.expr("e.p DIV 64").alias("w"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(e.p % 64 AS INT))"
        ).alias("m"),
    )


def _stats_agg(df, id_col: str, by: str | None = None):
    """(row_count, stats) in ONE aggregate action: count, [min,max]
    id bounds, and the generation id filter's words. Sparse
    formulation — positions explode to (word, mask) rows grouped by
    word (≤ 2·rows exploded, ≤ 128 groups collected); the count and
    bounds ride the same groups (count = the j=0 rows, each input
    row contributes exactly one; bounds fold across groups on the
    driver). Values are identical to the former wide 131-expression
    aggregate, whose codegen compile dominated small-batch mutations.

    With ``by`` (a column of ``df``) the same action groups by it as
    well and returns ``{value: stats}`` — the MERGE tables' per-file
    statistics, grouped by data file. The row count is left out there:
    no caller reads it, and its aggregate adds ~30 ms of CPU per
    action (measured on a 4-vCPU host, C1-only JVM).
    """
    keys = (by,) if by else ()
    aggs = [
        F.bit_or("m").alias("bits"),
        F.min("_id").alias("lo"),
        F.max("_id").alias("hi"),
    ]
    if by is None:
        aggs.append(F.sum((F.col("j") == 0).cast("long")).alias("n"))
    rows = (
        explode_pos_rows(df, id_col, keep=keys)
        .groupBy(*keys, "w")
        .agg(*aggs)
        .collect()
    )
    if by is None:
        return sum(int(r["n"]) for r in rows), _fold_stats(rows)
    groups: dict = {}
    for r in rows:
        groups.setdefault(r[by], []).append(r)
    return {g: _fold_stats(rs) for g, rs in groups.items()}


def _fold_stats(rows) -> dict | None:
    """Driver-side fold of one group's per-word aggregate rows into
    the generation stats dict (``None`` without int/str ids)."""
    los = [r["lo"] for r in rows if r["lo"] is not None]
    if not los:
        return None
    words = [0] * ID_FILTER_WORDS
    for r in rows:
        words[int(r["w"])] = int(r["bits"])
    return _stats_dict(
        min(los), max(r["hi"] for r in rows if r["hi"] is not None), words
    )


def _stats_dict(lo, hi, words: list) -> dict | None:
    """The generation stats dict for ids in ``[lo, hi]`` whose filter
    bits are ``words`` — ``None`` unless the ids are int or str (bool
    excluded): only their Python order is Spark's."""
    if lo is None or isinstance(lo, bool) or not isinstance(lo, (int, str)):
        return None
    stats = {"min_id": lo, "max_id": hi}
    set_bits = sum(
        bin(w & 0xFFFFFFFFFFFFFFFF).count("1") for w in words
    )
    # a saturated filter can never prune (every probe bit is set) —
    # omit it rather than spend ~1 KB of manifest per generation on
    # all-ones. Only small (change-window-sized) generations carry
    # filters, which is exactly where content pruning matters; big
    # compacted generations fall back to [min,max] + census.
    if set_bits < int(0.9 * ID_FILTER_WORDS * 64):
        stats["filter"] = {
            "k": ID_FILTER_K,
            "bits": ID_FILTER_WORDS * 64,
            "words": words,
        }
    return stats


def observed_stats_aggs(id_col: str) -> list:
    """The aggregates a write OBSERVES (``DataFrame.observe``) so that
    :func:`stats_from_observed` can derive the written rows' stats
    without reading them back: min and max of ``id_col`` and the
    distinct values of each filter hash position — at most the
    filter's 8192 bits each, however many rows the write holds. Null
    ids keep their positions (``xxhash64(NULL)`` is the seed hash), as
    in :func:`_stats_agg`."""
    p0, p1 = filter_pos_cols(id_col)
    return [
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
        F.collect_set(p0).alias("p0"),
        F.collect_set(p1).alias("p1"),
    ]


def stats_from_observed(obs: dict) -> dict | None:
    """The stats dict of the rows a write observed with
    :func:`observed_stats_aggs` — bit-identical to :func:`_stats_agg`
    over the same rows, words included: a word with bit 63 set is the
    negative long Spark's ``bit_or`` of ``shiftleft(1L, 63)`` yields."""
    words = [0] * ID_FILTER_WORDS
    for p in itertools.chain(obs["p0"], obs["p1"]):
        words[p >> 6] |= 1 << (p & 63)
    return _stats_dict(
        obs["lo"],
        obs["hi"],
        [w - (1 << 64) if w >> 63 else w for w in words],
    )


def count_and_bounds(df, id_col: str) -> "tuple[int, dict | None]":
    """``(row_count, generation stats)`` in ONE aggregate action —
    the append paths already pay a count job on the batch, so the
    [min,max] bounds AND the id filter ride along for free instead
    of adding a second job per mutation."""
    return _stats_agg(df, id_col)


# Small-batch fast-path cap (r12 session 3): a mutation batch whose
# ids fit under this bound is collected ONCE (ids + filter-bit
# positions, one narrow job, no exchange) and every per-batch
# quantity — count, [min,max] bounds, the generation id filter,
# membership probes — derives driver-side, replacing the
# distinct/anti-join/aggregate formulations that cost 3-5 AQE stage
# jobs per mutation. Bounded by construction (≤ cap ids on the
# driver, isin literals ≤ cap); larger batches keep the join
# formulation. The same cap bounds the MERGE decide arm's inlined
# keys and each side of the change feed's window arm; every caller
# reads it at call time, so patching it to 0 forces every join arm.
# Sized at the measured isin-vs-join crossover (r12 session 4):
# N-literal isin analysis/codegen grows superlinearly in N — per-merge
# min-of-3 walls on a 100k-row table were 64 keys 1.8s / 512 keys
# 2.2s / 2048 keys 5.2s / 4096 keys 10.8s against a flat ~2.6s for the
# join arm — so a bigger cap makes the "fast" path slower than the
# exchange it avoids.
SMALL_BATCH_CAP = 512

# Collect cap for filter-probe positions (and MERGE's source key rows,
# which carry them, and the content fingerprint's per-row hashes): at
# most this many rows reach the driver; past it the callers take their
# aggregate formulations. It bounds driver memory, not literal counts,
# hence far above SMALL_BATCH_CAP. Read at call time: patching it to 0
# forces every one of those aggregates.
PROBE_CAP = 65536


def collect_id_rows(
    df, id_col: str, cap: int | None = None
) -> "list[tuple] | None":
    """Bounded collect of ``(id, p0, p1)`` per batch row (duplicates
    kept, order preserved; positions are Spark-computed xxhash64 —
    identical bits to the aggregate formulation), or ``None`` past
    ``cap``. ``cap`` defaults to :data:`SMALL_BATCH_CAP` read at CALL
    time, so patching the module cap to 0 really forces every caller
    onto its join arm (a default bound at definition time never
    saw the patch)."""
    if cap is None:
        cap = SMALL_BATCH_CAP
    p0, p1 = filter_pos_cols(id_col)
    rows = (
        df.select(
            F.col(id_col).alias("_id"), p0.alias("_p0"), p1.alias("_p1")
        )
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    return [(r["_id"], r["_p0"], r["_p1"]) for r in rows]


def stats_from_id_rows(rows: "list[tuple]") -> dict | None:
    """Driver-side fold of collected ``(id, p0, p1)`` rows into the
    generation stats dict — probe-identical to :func:`_stats_agg`'s
    output for the same input: same bounds rule (int/str only, bool
    excluded, nulls skipped), same filter BITS (the positions came
    from Spark's xxhash64; the stored word for bit 63 is the
    unsigned form where Spark's ``shiftleft`` yields the negative
    two's-complement twin — :func:`_bit` and the popcount treat both
    identically), same ≥90%-saturation cut."""
    ids = [i for i, _, _ in rows if i is not None]
    if not ids:
        return None
    words = [0] * ID_FILTER_WORDS
    for _, p0, p1 in rows:
        for p in (p0, p1):
            if p is not None:
                words[p >> 6] |= 1 << (p & 63)
    return _stats_dict(min(ids), max(ids), words)


def keep_ids_filter(id_col: str, drop_ids: "list"):
    """Filter column reproducing a LEFT ANTI join against
    ``drop_ids`` exactly: null ids never match (kept), non-null ids
    survive iff outside the set."""
    if not drop_ids:
        return F.lit(True)
    return F.col(id_col).isNull() | ~F.col(id_col).isin(drop_ids)


def filter_probe_positions(
    df, id_col: str, cap: int | None = None
) -> "list[tuple[int, int]] | None":
    """The blocked ids' hash-bit position pairs for per-id filter
    probing, or ``None`` when the set exceeds ``cap`` (default
    :data:`PROBE_CAP`; a takedown wave of millions of ids touches
    every generation anyway — the caller falls back to the
    bitmap-intersection test, which needs no collect). Bounded: at
    most ``cap`` (int, int) rows reach the driver."""
    if cap is None:
        cap = PROBE_CAP
    p0, p1 = filter_pos_cols(id_col)
    rows = (
        df.select(p0.alias("p0"), p1.alias("p1"))
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    return [(int(r["p0"]), int(r["p1"])) for r in rows]


# Generation-pruning gate for the DELETE paths (r12): pruning the
# stored-id semi-join scan by per-generation stats costs two tiny
# batch-sized jobs (count+bounds, probe positions) before any file is
# read — pure overhead on a freshly built index with a handful of
# generations, a corpus-scan saved on a long-ingesting index with
# many. Scale-adaptive by generation COUNT, not by a local[] tuning.
GEN_PRUNE_MIN = 5


# Tombstone-set writes stay ONE skinny file (cheap probe-side read)
# up to this many ids; past it — a takedown wave of tens of millions
# — the write shards so it never funnels through a single task.
TOMBSTONE_SHARD_ROWS = 4_000_000


def shard_for_write(df, n_rows: int):
    """``df`` coalesced to one output file for ordinary tombstone
    counts, repartitioned into ``ceil(n/TOMBSTONE_SHARD_ROWS)``
    shards above the threshold. Readers are indifferent (a tombstone
    directory is read whole); only the write-path parallelism
    changes."""
    k = max(1, -(-n_rows // TOMBSTONE_SHARD_ROWS))
    return df.coalesce(1) if k == 1 else df.repartition(k)


def _bit(words: list, pos: int) -> int:
    # (w >> b) & 1 is two's-complement-correct for Python ints
    return (words[pos >> 6] >> (pos & 63)) & 1


def generation_prunable(
    stats: dict | None,
    blocked_stats: dict | None,
    probe_positions: "list[tuple[int, int]] | None",
) -> bool:
    """True iff the generation PROVABLY holds none of the blocked
    ids — the only case a targeted rewrite may skip the physical
    census for it. Two independent proofs, either suffices:

    - [min,max] range disjointness (perfect for monotonic ids);
    - the id filter: with positions collected, a generation is a
      candidate only if SOME blocked id has ALL its k bits set;
      above the collect cap, the weaker-but-collect-free bitmap
      intersection (no shared bit → no shared id).

    Missing stats/filter (pre-filter manifests, non-int/str ids)
    are never provable → False, the conservative arm."""
    if bounds_disjoint(stats, blocked_stats):
        return True
    f = (stats or {}).get("filter")
    if (
        not f
        or f.get("k") != ID_FILTER_K
        or f.get("bits") != ID_FILTER_WORDS * 64
    ):
        return False
    words = f["words"]
    if probe_positions is not None:
        return not any(
            _bit(words, p0) and _bit(words, p1)
            for p0, p1 in probe_positions
        )
    bf = (blocked_stats or {}).get("filter")
    if not bf or bf.get("bits") != f.get("bits"):
        return False
    return not any(a & b for a, b in zip(words, bf["words"]))


def bounds_disjoint(stats: dict | None, bounds: dict | None) -> bool:
    """True iff the two [min,max] id ranges PROVABLY do not overlap —
    the only case generation pruning may skip a physical check.
    Missing stats or mismatched types (an index whose id column
    changed representation) are never provable → False."""
    if not stats or not bounds:
        return False
    a_lo, a_hi = stats["min_id"], stats["max_id"]
    b_lo, b_hi = bounds["min_id"], bounds["max_id"]
    if {type(a_lo), type(b_lo)} not in ({int}, {str}):
        return False
    return a_hi < b_lo or a_lo > b_hi


def seq_at_timestamp(
    spark: SparkSession, path: str, ts_millis: int
) -> int:
    """TIMESTAMP-AS-OF resolution: the newest committed sequence whose
    ``_committed_at`` stamp is <= ``ts_millis`` (epoch millis).

    Sequence order is the authoritative history; the wall-clock stamp
    is advisory (single-writer contract, but clocks can step), so the
    scan walks seqs NEWEST-FIRST and returns the first one stamped at
    or before the cutoff — under a backwards clock step this picks the
    latest version a reader at that wall time could have seen, never
    an older one resurrected by the skew. Manifests from before the
    stamp existed (no ``_committed_at``) cannot prove their time and
    are skipped; if NO manifest qualifies the error is loud, exactly
    like a vacuumed ``as_of`` version."""
    manifests = read_all_manifests(spark, path)
    if not manifests:
        raise ValueError(f"no committed table at {path}")
    for m in sorted(manifests, key=lambda m: -int(m["_seq"])):
        at = m.get("_committed_at")
        if at is not None and int(at) <= int(ts_millis):
            return int(m["_seq"])
    raise ValueError(
        f"no version of {path} committed at or before {ts_millis}"
        " (older manifests may be vacuumed or predate commit stamps)"
    )


def pinned_read(spark: SparkSession, m: dict, rel: str, *paths: str):
    """Parquet read with the manifest-recorded schema for ``rel``
    when present — planning then costs ZERO Spark jobs, where schema
    inference over a multi-file relation runs a distributed
    footer-read job per ``spark.read.parquet`` call (measured: one
    job per unpinned read site; at 100 TB the footer sweep is real
    work, repeated on every probe/mutation). Falls back to inference
    for manifests committed before schemas were recorded — mutations
    backfill the entry, so old indexes heal on their next write."""
    from pyspark.sql.types import StructType

    s = m.get("schemas", {}).get(rel)
    reader = spark.read
    if s:
        reader = reader.schema(StructType.fromJson(json.loads(s)))
    return reader.parquet(*paths)


def _pruned(gens: list, gen_stats: dict, id_rows: "list[tuple]") -> list:
    """``gens`` minus the generations whose stats PROVABLY hold none
    of the collected ``(id, p0, p1)`` rows — the small-batch arm's
    pruning, derived driver-side with no job."""
    if not gen_stats:
        return gens
    bounds = stats_from_id_rows(id_rows)
    probe_pos = [
        (p0, p1) for _, p0, p1 in id_rows if p0 is not None and p1 is not None
    ]
    return [
        g for g in gens
        if not generation_prunable(gen_stats.get(g), bounds, probe_pos)
    ]


class GenerationStore:
    """The manifest-protocol mutation layer, written ONCE for every
    store kind: the MinHash-LSH index and the IVF index, and the MERGE
    tables (:class:`~sqltask_spark.operators.merge.TableStore`).

    A store at ``path`` is laid out as::

        manifests/manifest-*.json         the commit points (above)
        {gen_dir}/{gen_prefix}g000001     one generation per append
        {aux}/g000001                     the kind's one versioned side
                                          relation, named by m[aux]
        tombstones/g000001                committed logical deletes

    and owns everything the kinds share: committed and ``as_of``
    reads, pinned-schema reads, the tombstone relation, orphan sweeps
    over the live union of all manifests, the ledgered idempotent
    "which batch ids are novel" step (generation pruning by
    ``gen_stats`` [min,max] + id filter, the small-batch arm and its
    join arm), delete, unblock, the sweep-and-commit shells of
    compact and vacuum, and the health/maintain policy.

    A kind supplies only data and its own callables: the layout (the
    four class attributes), the physical id relation of a generation
    set (:meth:`read_ids`), how one generation is rewritten minus a
    set of ids (:meth:`rewrite_generation`, plus :meth:`rewrite_aux`
    for a side relation that must follow), how the compacted
    generation is written (:meth:`write_compacted`), and — per
    append call — how a new generation's payload is written. Every
    parquet file a mutation produces goes through :meth:`write`.

    The LAYOUT HOOKS (:meth:`dirs`, :meth:`referenced`,
    :meth:`unreadable`, :meth:`compacted`, :meth:`retire`,
    :meth:`census`) default to the index layout above; a store of
    another layout — the tables' file lists — overrides them and
    keeps every protocol step: reads, the write path, the commit, the
    sweep, the compact/vacuum shells and the health/maintain policy.
    """

    #: stored id column of the generations and the tombstone relation
    id_col: str = ""
    #: parent directory of the generations, and each generation
    #: directory's name prefix before ``g%06d``
    gen_dir: str = ""
    gen_prefix: str = ""
    #: manifest key AND directory of the versioned side relation
    aux: str = ""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark, self.path = spark, path

    # -- layout and reads --------------------------------------------

    def gen_rel(self, g: str) -> str:
        """Generation ``g``'s directory relative to the store root."""
        return f"{self.gen_dir}/{self.gen_prefix}{g}"

    def gen_path(self, g: str) -> str:
        return f"{self.path}/{self.gen_rel(g)}"

    def dirs(self) -> "tuple[str, ...]":
        """LAYOUT HOOK: the store directories (relative to the root)
        whose children are generation-named (``…g%06d``) — what the
        sweeps and the name allocation scan."""
        return (self.gen_dir, self.aux, "tombstones")

    def referenced(self, m: dict) -> set:
        """LAYOUT HOOK: the store-relative paths manifest ``m``
        references — here directories: its generations, its side
        relation's version and its tombstone sets."""
        refs = {self.gen_rel(g) for g in m.get("generations", [])}
        refs |= {f"tombstones/{g}" for g in m.get("tombstones", [])}
        if self.aux in m:
            refs.add(f"{self.aux}/{m[self.aux]}")
        return refs

    def unreadable(self, m: dict) -> list:
        """LAYOUT HOOK: the relations of the surviving version ``m``
        that are gone from disk — compaction (or a rebuild's sweep)
        reclaims generations while older manifests stay. One
        existence check per generation and side relation."""
        rels = [self.gen_rel(g) for g in m["generations"]]
        rels.append(f"{self.aux}/{m[self.aux]}")
        return [
            r for r in rels
            if not path_exists(self.spark, f"{self.path}/{r}")
        ]

    def head(self) -> dict | None:
        """The newest committed manifest, or ``None`` before the first
        commit — the base a build commits against."""
        return read_manifest(self.spark, self.path)

    def committed(
        self, as_of: int | None = None, as_of_ts: int | None = None
    ) -> dict:
        """The newest committed manifest, the exact version ``as_of``
        (time travel), or the newest version committed at or before
        ``as_of_ts`` (epoch millis, :func:`seq_at_timestamp`). Every
        version stays readable until its retention boundary
        (mutations write only new files and sweeps respect the union
        of ALL manifests' references); travelling past it errors
        loudly instead of serving a partial state."""
        if as_of is not None and as_of_ts is not None:
            raise ValueError("pass as_of or as_of_ts, not both")
        if as_of_ts is not None:
            as_of = seq_at_timestamp(self.spark, self.path, as_of_ts)
        if as_of is None:
            m = self.head()
            if m is None:
                raise ValueError(f"no committed manifest under {self.path}")
            return m
        m = read_manifest_at(self.spark, self.path, as_of)
        if m is None:
            raise ValueError(
                f"version {as_of} of {self.path} does not exist (vacuumed,"
                f" torn, or never committed); available:"
                f" {list_manifest_seqs(self.spark, self.path)}"
            )
        missing = self.unreadable(m)
        if missing:
            raise ValueError(
                f"version {as_of} of {self.path} is no longer readable —"
                f" compaction/rebuild reclaimed {missing}; time travel"
                f" reaches back only to the last compaction"
            )
        return m

    def tombstones(self, m: dict):
        """Union of the committed tombstone sets (``(id_col)``), or
        ``None`` when none is committed."""
        gens = m.get("tombstones", [])
        if not gens:
            return None
        return pinned_read(
            self.spark, m, "tombstones",
            *[f"{self.path}/tombstones/{g}" for g in gens],
        )

    def read_ids(self, m: dict, gens: "list[str] | None" = None):
        """KIND HOOK: the physical ``(id_col)`` relation of generations
        ``gens`` (default: all committed), tombstoned rows included.
        One row per stored id (appends anti-join committed ids, so
        generations never overlap)."""
        raise NotImplementedError

    def _members(self, rel, ids: list) -> set:
        """The subset of ``ids`` present in ``rel`` — one bounded
        collect over an isin filter that pushes down to parquet."""
        return {
            r[self.id_col]
            for r in rel.filter(F.col(self.id_col).isin(ids)).collect()
        }

    def _pruned_by(self, rel, gens: list, gen_stats: dict):
        """``(n, gens)`` — the count of the id relation ``rel`` and
        ``gens`` minus the generations PROVABLY disjoint from it: one
        count+bounds+filter aggregate, then a bounded collect of the
        ids' filter positions (past its cap the bitmap-intersection
        test needs no collect). Under hashed/interleaved ids the
        [min,max] ranges all overlap; the CONTENT filter is what keeps
        the scans off untouched generations then."""
        n, bounds = count_and_bounds(rel, self.id_col)
        if n == 0:
            return 0, []
        probe_pos = filter_probe_positions(rel, self.id_col)
        return n, [
            g for g in gens
            if not generation_prunable(gen_stats.get(g), bounds, probe_pos)
        ]

    # -- the write path and commits ----------------------------------

    def write(self, df, rel: str, partition_by: str | None = None) -> None:
        """The store's ONE parquet write path: every file a build or
        mutation produces lands under ``rel`` (relative to the store
        root) through here — new directories only, never visible
        before the manifest that names them."""
        w = df.write.mode("overwrite")
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(f"{self.path}/{rel}")

    def commit(self, m: dict | None, updates: dict) -> int:
        """Publish ``m`` with ``updates`` as the next manifest and
        return the seq it published. Unknown manifest keys (sync
        markers, batch ledger, future metadata) carry forward verbatim
        — a mutation must never strip another subsystem's state."""
        prev_seq = m["_seq"] if m else -1
        commit_manifest(
            self.spark,
            self.path,
            {**{k: v for k, v in (m or {}).items() if k != "_seq"},
             **updates},
            prev_seq,
        )
        return prev_seq + 1

    def sweep(self, files: bool = False) -> list[str]:
        """Delete what no manifest references — the debris of a
        crashed mutation. Committed = the UNION over all manifests,
        not just the newest: older versions stay time-travel readable
        until their retention boundary. ``files`` (the vacuum) also
        reclaims the unreferenced data files inside referenced
        directories. Returns the swept store-relative paths."""
        live: set = set()
        for m in read_all_manifests(self.spark, self.path):
            live |= self.referenced(m)
        return self._sweep(live, files)

    def _sweep(self, live: set, files: bool = False) -> list[str]:
        """Delete every generation-named child of :meth:`dirs` with no
        ``live`` path at or under it; with ``files``, also the data
        files (not ``_``/``.`` metadata) of the partly live ones."""
        parents = {r.rsplit("/", 1)[0] for r in live}
        swept = []
        for d in self.dirs():
            for name in list_names(self.spark, f"{self.path}/{d}"):
                rel = f"{d}/{name}"
                if not name.startswith("g") or rel in live:
                    continue
                if rel not in parents:
                    swept.append(rel)
                elif files:
                    swept += [
                        f"{rel}/{n}"
                        for n in list_names(self.spark, f"{self.path}/{rel}")
                        if n[0] not in "_." and f"{rel}/{n}" not in live
                    ]
        for rel in swept:
            delete_path(self.spark, f"{self.path}/{rel}")
        return swept

    # -- append ------------------------------------------------------

    def _novel(self, m: dict, batch, id_col: str):
        """``(novel, known)`` — the batch rows whose ids no committed
        generation holds (tombstoned ones included: a deleted id stays
        unavailable until compaction, the LSM id-reuse hazard), or
        ``None`` when nothing is novel. ``known`` is ``(count, stats)``
        when the small-batch arm derived them, else ``None``.

        SMALL-BATCH arm (r12): a batch under the
        collect cap is pulled to the driver ONCE (ids + filter-bit
        positions, one narrow job) and everything per-batch derives
        from it — generation pruning (no extra stats jobs), the
        idempotency check (one bounded membership scan with an isin
        pushdown instead of anti-join exchanges), the novel count and
        the manifest stats (driver-side fold, no aggregate job).
        Larger batches take the JOIN arm: an anti-join against the
        stored ids of the generations that pruning cannot rule out.
        Results identical."""
        gens = list(m["generations"])
        gen_stats = m.get("gen_stats", {})
        id_rows = collect_id_rows(batch, id_col)
        if id_rows is not None:
            if not id_rows:
                return None
            gens = _pruned(gens, gen_stats, id_rows)
            uniq = list({i for i, _, _ in id_rows if i is not None})
            hits = (
                self._members(self.read_ids(m, gens), uniq)
                if gens and uniq
                else set()
            )
            novel_rows = [t for t in id_rows if t[0] not in hits]
            if not novel_rows:
                return None
            novel = (
                batch.filter(keep_ids_filter(id_col, sorted(hits)))
                if hits
                else batch
            )
            return novel, (len(novel_rows), stats_from_id_rows(novel_rows))
        # generation pruning for the idempotency anti-join (r12): gated
        # on generation count — two batch-sized stats jobs buy a pruned
        # corpus-id scan only once the index has accumulated
        # generations worth skipping
        if len(gens) >= GEN_PRUNE_MIN and gen_stats:
            bk = batch.select(F.col(id_col).alias(self.id_col)).distinct()
            bk = bk.persist()
            try:
                _, gens = self._pruned_by(bk, gens, gen_stats)
            finally:
                bk.unpersist()
        if not gens:
            # every generation provably disjoint — the whole batch is
            # novel
            return batch, None
        stored = self.read_ids(m, gens)
        return (
            batch.join(stored, batch[id_col] == stored[self.id_col],
                       "left_anti"),
            None,
        )

    def append(
        self, batch, id_col: str, write_generation,
        batch_id: str | None = None,
    ) -> int:
        """Add the batch rows whose ``id_col`` no committed generation
        holds as ONE new generation; returns how many were added (0 for
        a retried batch). ``write_generation(m, novel, known, gen)``
        is the kind's payload writer: it writes generation ``gen`` from
        the ``novel`` rows and returns ``(count, stats, updates)`` —
        ``known`` carries ``(count, stats)`` when the small-batch arm
        already derived them, else the writer measures its own input
        (count 0 means nothing was written), and ``updates`` are the
        kind's manifest fields.

        A ``batch_id`` already in the manifest's ``batches`` ledger
        makes the whole retried append ONE manifest read; the anti-join
        recheck stays the correctness backstop for un-ledgered callers
        and for ids trimmed past the ledger's horizon. Crash-atomic:
        nothing is visible before the commit, and the next writer's
        sweep removes the debris."""
        m = self.committed()
        if batch_id is not None and batch_id in m.get("batches", []):
            return 0
        self.sweep()
        found = self._novel(m, batch, id_col)
        if found is None:
            return 0
        gen = next_gen(m)
        n, st, updates = write_generation(m, *found, gen)
        if n == 0:
            return 0
        stats = dict(m.get("gen_stats", {}))
        if st:
            stats[gen] = st
        # the COMMIT: everything above was invisible until this line
        self.commit(m, {
            **updates,
            "generations": m["generations"] + [gen],
            "gen_stats": stats,
            "batches": m.get("batches", []) + ([batch_id] if batch_id else []),
        })
        return n

    # -- delete ------------------------------------------------------

    def _add_tombstones(self, m: dict, target, n: int) -> int:
        gen = self._allocator(m)()
        self.write(shard_for_write(target, n), f"tombstones/{gen}")
        # backfill the tombstone reader schema for pre-schema
        # manifests (carried forward verbatim otherwise)
        schemas = dict(m.get("schemas", {}))
        schemas.setdefault("tombstones", target.schema.json())
        self.commit(m, {
            "tombstones": m.get("tombstones", []) + [gen],
            "schemas": schemas,
        })
        return n

    def delete(self, ids, id_col: str) -> int:
        """Tombstone the stored ids among ``ids[id_col]``; returns how
        many were newly tombstoned. Never-indexed and already-tombstoned
        ids filter out, so a re-run returns 0.

        SMALL-BATCH arm (r12): collect the ids once (one
        narrow job), prune generations driver-side, confirm membership
        with one bounded isin-pushdown scan, subtract prior tombstones
        with one bounded filtered read, and write the target set from a
        driver-built relation — replacing the distinct/semi-join/
        anti-join/count formulation (4-5 AQE stage jobs per delete, per
        CDC epoch). Takedown waves past the cap take the JOIN arm, whose
        stored-id semi-join skips generations PROVABLY holding none of
        the ids — gated on generation count: two tiny stats jobs buy a
        pruned corpus scan only once the index has accumulated
        generations worth skipping. Results identical."""
        spark = self.spark
        m = self.committed()
        self.sweep()
        blocked = ids.select(F.col(id_col).alias(self.id_col)).distinct()
        gens = list(m["generations"])
        gen_stats = m.get("gen_stats", {})
        id_rows = collect_id_rows(blocked, self.id_col)
        if id_rows is not None:
            uniq = sorted({i for i, _, _ in id_rows if i is not None})
            if not uniq:
                return 0
            gens = _pruned(gens, gen_stats, id_rows)
            if not gens:
                return 0
            hits = self._members(self.read_ids(m, gens), uniq)
            prior_df = self.tombstones(m)
            prior = (
                self._members(prior_df, sorted(hits))
                if prior_df is not None and hits
                else set()
            )
            target_ids = [i for i in uniq if i in hits and i not in prior]
            if not target_ids:
                return 0
            target = local_frame(
                spark, [(i,) for i in target_ids], blocked.schema
            )
            return self._add_tombstones(m, target, len(target_ids))
        try:
            if len(gens) >= GEN_PRUNE_MIN and gen_stats:
                blocked = blocked.persist()
                _, gens = self._pruned_by(blocked, gens, gen_stats)
                if not gens:
                    return 0
            target = blocked.join(
                self.read_ids(m, gens), self.id_col, "left_semi"
            )
            prior = self.tombstones(m)
            if prior is not None:
                target = target.join(prior, self.id_col, "left_anti")
            target = target.persist()
            try:
                n = target.count()
                return self._add_tombstones(m, target, n) if n else 0
            finally:
                target.unpersist()
        finally:
            blocked.unpersist()

    # -- unblock -----------------------------------------------------

    def rewrite_generation(self, m: dict, g: str, gnew: str, keep) -> None:
        """KIND HOOK: write generation ``g``'s rows that survive
        ``keep`` (a DataFrame → DataFrame filter dropping the blocked
        ids) as the new generation ``gnew``."""
        raise NotImplementedError

    def rewrite_aux(self, m: dict, affected: list, drop, alloc) -> dict:
        """KIND HOOK: bring the side relation in line with the rows the
        unblock drops from the ``affected`` generations (``drop``
        selects them; ``alloc()`` names any new directory). Returns
        the manifest updates; the default has nothing to follow."""
        return {}

    def _census(self, m: dict, candidates: list, blocked):
        """``(affected, fully_blocked)`` over the candidate generations
        in ONE job: which hold blocked rows, and which hold nothing
        else (a per-generation semi-join loop costs one Spark job per
        generation — at small window sizes that fixed job count, not
        data volume, was the measured cost)."""
        if not candidates:
            return [], set()
        tagged = reduce(
            DataFrame.unionByName,
            [
                self.read_ids(m, [g]).withColumn("_g", F.lit(g))
                for g in candidates
            ],
        )
        census = tagged.join(
            blocked.withColumn("_b", F.lit(1)), self.id_col, "left"
        ).groupBy("_g").agg(
            F.count(F.lit(1)).alias("_total"),
            F.sum(F.coalesce("_b", F.lit(0))).alias("_hit"),
        ).collect()
        affected = sorted(r["_g"] for r in census if r["_hit"])
        fully = {
            r["_g"] for r in census if r["_hit"] and r["_hit"] == r["_total"]
        }
        return affected, fully

    def _allocator(self, m: dict):
        """Fresh sequential generation names past everything committed
        OR on disk under any of the store's directories — so an atomic
        rebuild or rewrite writes only new directories (a committed
        reader keeps scanning the old ones untouched until the new
        manifest lands) instead of overwriting in place."""
        nums = [-1] + [int(g[1:]) for g in m.get("generations", [])]
        for d in self.dirs():
            for name in list_names(self.spark, f"{self.path}/{d}"):
                mm = re.search(r"g(\d{6})$", name)
                if mm:
                    nums.append(int(mm.group(1)))
        counter = itertools.count(1 + max(nums))
        return lambda: "g%06d" % next(counter)

    def unblock(self, ids, id_col: str) -> dict:
        """Free the tombstoned ids among ``ids[id_col]`` for
        re-admission by rewriting ONLY the generations that physically
        hold their rows. Candidates are pruned first against
        ``gen_stats`` ([min,max] + id filter — no read at all when
        provably disjoint), then confirmed by ONE census job; confirmed
        generations are rewritten minus the blocked ids (a generation
        with nothing left is dropped from the manifest instead of
        written empty), the side relation follows (:meth:`rewrite_aux`),
        and the tombstone set is rewritten without the freed ids.
        Untouched generations keep their directories AND their
        manifest names — the Iceberg-style partial-rewrite shape.

        SMALL-BATCH arm (r12): collect the incoming ids once
        and intersect with the tombstones via one bounded isin-filtered
        read — the blocked set, its count, bounds and probe positions
        all derive driver-side, and the census and rewrites consume a
        driver-built literal relation / plain filters. Past the cap,
        the JOIN arm. Results identical.

        Returns ``{"unblocked", "rewritten_generations",
        "candidate_generations"}``; idempotent (ids not currently
        tombstoned are ignored) and crash-atomic."""
        none = {"unblocked": 0, "rewritten_generations": [],
                "candidate_generations": 0}
        spark = self.spark
        m = self.committed()
        tombs = self.tombstones(m)
        if tombs is None:
            return none
        incoming = ids.select(F.col(id_col).alias(self.id_col))
        gen_stats = m.get("gen_stats", {})
        blocked_ids: list | None = None
        id_rows = collect_id_rows(incoming, self.id_col)
        if id_rows is not None:
            uniq = sorted({i for i, _, _ in id_rows if i is not None})
            hit = self._members(tombs, uniq) if uniq else set()
            blocked_ids = [i for i in uniq if i in hit]
            if not blocked_ids:
                return none
            blocked = local_frame(
                spark, [(i,) for i in blocked_ids], incoming.schema
            )
        else:
            blocked = (
                incoming.distinct()
                .join(tombs, self.id_col, "left_semi")
                .persist()
            )
        try:
            if blocked_ids is not None:
                n = len(blocked_ids)
                candidates = _pruned(
                    m["generations"], gen_stats,
                    [t for t in id_rows if t[0] in hit],
                )

                def keep(df):
                    return df.filter(keep_ids_filter(self.id_col, blocked_ids))

                def drop(df):
                    return df.filter(F.col(self.id_col).isin(blocked_ids))
            else:
                n, candidates = self._pruned_by(
                    blocked, m["generations"], gen_stats
                )
                if n == 0:
                    return none

                def keep(df):
                    return df.join(blocked, self.id_col, "left_anti")

                def drop(df):
                    return df.join(blocked, self.id_col, "left_semi")
            affected, fully_blocked = self._census(m, candidates, blocked)
            alloc = self._allocator(m)
            mapping: dict[str, str | None] = {}
            for g in affected:
                mapping[g] = None if g in fully_blocked else alloc()
                if mapping[g] is not None:
                    self.rewrite_generation(m, g, mapping[g], keep)
            updates = self.rewrite_aux(m, affected, drop, alloc)
            new_gens = [
                mapping.get(g, g) for g in m["generations"]
                if mapping.get(g, g) is not None
            ]
            if not new_gens:
                raise ValueError(
                    f"unblock would leave {self.path} with zero"
                    " generations (every stored row is blocked) —"
                    " rebuild the index instead"
                )
            # tombstones minus the freed ids, as ONE fresh set
            remaining = keep(tombs).persist()
            try:
                new_tombs: list[str] = []
                n_rem = remaining.count()
                if n_rem:
                    new_tombs = [alloc()]
                    self.write(
                        shard_for_write(remaining, n_rem),
                        f"tombstones/{new_tombs[0]}",
                    )
                # rewritten generations keep their OLD stats — a
                # conservative superset stays valid for pruning
                self.commit(m, {
                    **updates,
                    "generations": new_gens,
                    "tombstones": new_tombs,
                    "gen_stats": {
                        mapping.get(g, g): gen_stats[g]
                        for g in m["generations"]
                        if g in gen_stats and mapping.get(g, g) is not None
                    },
                })
            finally:
                remaining.unpersist()
            return {
                "unblocked": n,
                "rewritten_generations": affected,
                # observability for the pruning claim: how many
                # generations survived stats+filter pruning and were
                # actually read by the census job
                "candidate_generations": len(candidates),
            }
        finally:
            blocked.unpersist()

    # -- compact / vacuum --------------------------------------------

    def write_compacted(self, m: dict, gen: str, keep) -> dict:
        """KIND HOOK: write every committed generation's rows that
        survive ``keep`` (the tombstone anti-join) as the ONE
        generation ``gen``. Returns the manifest updates."""
        raise NotImplementedError

    def compacted(self, m: dict, gen: str) -> dict:
        """LAYOUT HOOK: write the committed state of ``m`` as the ONE
        generation ``gen`` and return the manifest updates — here the
        kind's :meth:`write_compacted` minus the tombstoned rows, with
        the tombstone set cleared."""
        tombs = self.tombstones(m)

        def keep(df):
            if tombs is None:
                return df
            return df.join(tombs, self.id_col, "left_anti")

        updates = self.write_compacted(m, gen, keep)
        st = id_bounds(self.read_ids(m, [gen]), self.id_col)
        return {
            **updates,
            "generations": [gen],
            "tombstones": [],
            "gen_stats": {gen: st} if st else {},
        }

    def retire(self, m: dict) -> None:
        """LAYOUT HOOK: cleanup once compaction committed ``m``. Here
        compaction is the retention boundary: everything ``m`` does
        not reference is swept. An in-flight probe PLANNED against the
        old manifest may need a retry — the standard compaction
        caveat."""
        self._sweep(self.referenced(m))

    def compact(self) -> dict:
        """Rewrite the committed state as ONE generation
        (:meth:`compacted`), commit it, then :meth:`retire` what it
        superseded. Returns the committed manifest updates."""
        m = self.committed()
        self.sweep()
        updates = self.compacted(m, self._allocator(m)())
        self.commit(m, updates)
        self.retire({**m, **updates})
        return updates

    def vacuum(
        self, keep_versions: int = 1, min_keep_seq: int | None = None
    ) -> dict:
        """Drop all but the newest ``keep_versions`` manifests (never
        one at or past ``min_keep_seq``, :func:`drop_manifests`), then
        sweep every directory and data file no surviving manifest
        references."""
        dropped = drop_manifests(
            self.spark, self.path, keep_versions, min_keep_seq=min_keep_seq
        )
        return {"dropped_versions": dropped, "swept": self.sweep(files=True)}

    def trim(self, keep: int) -> int:
        """Truncate the committed ``batches`` ledger to its newest
        ``keep`` ids with one manifest-only commit (everything else
        carried forward); no-op without a commit when already within
        bound. Returns the number trimmed. See
        :func:`sqltask_spark.operators.merge.trim_batch_ledger` for
        the correctness contract (``keep`` must exceed the source's
        redelivery horizon)."""
        if keep < 1:
            raise ValueError(f"keep must be >= 1, got {keep}")
        m = self.committed()
        batches = m.get("batches", [])
        if len(batches) <= keep:
            return 0
        self.commit(m, {"batches": batches[-keep:]})
        return len(batches) - keep

    # -- health / maintain -------------------------------------------

    def census(self, m: dict) -> dict:
        """LAYOUT HOOK: the health figures of ``m`` — here generation
        count (manifest-only), tombstone count and ratio over physical
        ids (skinny id-column reads, skipped entirely when no
        tombstone set is committed)."""
        tombs = self.tombstones(m)
        n_tombstoned, ratio = 0, 0.0
        if tombs is not None:
            n_tombstoned = tombs.count()
            n_ids = self.read_ids(m).count()
            ratio = n_tombstoned / n_ids if n_ids else 0.0
        return {
            "n_generations": len(m["generations"]),
            "n_tombstone_sets": len(m.get("tombstones", [])),
            "n_tombstoned": n_tombstoned,
            "tombstone_ratio": ratio,
        }

    def health(self) -> dict:
        """The committed state's :meth:`census` plus its version
        count."""
        return {
            **self.census(self.committed()),
            "n_versions": len(list_manifest_seqs(self.spark, self.path)),
        }

    def maintain(
        self,
        compact_when,
        vacuum_keep_versions: int | None,
        ledger_keep_batches: int | None,
        vacuum_min_keep_seq: int | None = None,
    ) -> dict:
        """Compact when ``compact_when(health)`` holds, trim the batch
        ledger, then vacuum when the versions now committed exceed
        ``vacuum_keep_versions``; returns the health snapshot plus
        what was done."""
        h = self.health()
        compact = bool(compact_when(h))
        if compact:
            self.compact()
        trimmed = 0
        if ledger_keep_batches is not None:
            # trim BEFORE the vacuum so the pre-trim manifest it
            # supersedes is immediately reclaimable
            trimmed = self.trim(ledger_keep_batches)
        vac: dict = {}
        if (
            vacuum_keep_versions is not None
            and h["n_versions"] + compact + bool(trimmed)
            > vacuum_keep_versions
        ):
            vac = self.vacuum(vacuum_keep_versions, vacuum_min_keep_seq)
        return {
            **h, "compacted": compact, "vacuum": vac,
            "ledger_trimmed": trimmed,
        }
