"""Persistent IVF index: build once, probe many times.

The per-call ANN operators (:func:`~sqltask_spark.operators.
similarity.cosine_topk_ivf` et al.) retrain the coarse quantizer and
re-encode the corpus on every invocation — right for a one-shot
query, wrong for a serving/eval loop over a 100 TB corpus. This
module splits the two phases the way a production index does:

- :func:`build_ivf_index` trains the spherical-k-means coarse
  quantizer (same seeded bounded sample as the per-call ops), assigns
  every corpus vector to its cell, and writes the corpus BY CELL:
  a parquet table ``{path}/vectors`` physically partitioned on
  ``cell``, plus a tiny ``{path}/centroids`` table. Precomputed L2
  norms ride along, so probes never touch the raw corpus again.
- :func:`probe_ivf_index` assigns a (broadcast-small) query batch to
  its probe cells driver-side and reads ONLY those cells' files —
  the cell filter is a **PartitionFilter** (directory pruning at the
  scan, locked by a plan test), so a probe of 8/32 cells does a
  quarter of the I/O, which at 100 TB is the entire point of IVF.

Determinism matches the per-call operator exactly: same sample, same
Lloyd iterations, same rounded-cosine + id tie-break — so
``probe_ivf_index(build_ivf_index(c), q)`` reproduces
``cosine_topk_ivf(q, c)`` bit-for-bit (tested).

Durability layout (the :mod:`~sqltask_spark.operators.index_fs`
commit protocol — new-files-only + numbered-manifest publish)::

    path/quantizer/g000001/centroids   frozen coarse quantizer
    path/quantizer/g000001/codebooks   PQ sub-codebooks (pq only)
    path/manifests/manifest-*.json newest parseable wins; carries
                                   the layout params (n_cells, PQ
                                   m/pq_k) and the quantizer version
                                   atomically with the generation set
    path/vectors/gen=g000001/cell=K/...  one generation per commit
    path/tombstones/g000001        committed logical deletes

The quantizer is VERSIONED like the data: a rebuild writes a fresh
quantizer directory and flips to it in the same manifest commit that
publishes the re-encoded generation — a crash mid-rebuild can never
leave probes assigning against a new quantizer while scanning cells
laid out by the old one.

Probes read exactly the generation directories the newest committed
manifest names (``basePath`` keeps ``cell`` a partition column, so
directory pruning is untouched — plan-tested); appends write a fresh
generation and publish it with the next manifest. Appends are
IDEMPOTENT (already-committed ids are anti-joined out, so a retried
ingest batch is a no-op instead of a double-insert) and CRASH-ATOMIC
(a crash before the manifest lands leaves probes serving the
pre-append state bit-for-bit; the orphan generation is swept by the
next writer, and re-running the append heals) — and so are DELETE
(:func:`delete_from_ivf_index`, LSM tombstones probes anti-join) and
COMPACT (:func:`compact_ivf_index`, merge generations + drop
tombstoned rows under the frozen quantizer). The PQ-vs-plain
layout is recorded in the manifest at build time and read back on
append — never inferred from driver-local filesystem probes, which
lie on HDFS/object stores. Single writer at a time is the contract;
concurrent readers are always safe.
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame
from sqltask_spark.operators import index_fs
from sqltask_spark.operators.similarity import (
    BRUTE_PREFILTER_MIN_PAIRS,
    _cell_assign_udf,
    _cell_candidate_pairs,
    _kmeans_euclid,
    _pq_encode_udf,
    _sample_matrix,
    _spherical_kmeans,
    as_double_array,
    cosine_prenormed,
    l2_norm,
    query_side_schema,
)


class IvfStore(index_fs.GenerationStore):
    """The IVF index on the shared generation protocol
    (:class:`~sqltask_spark.operators.index_fs.GenerationStore`): a
    generation is one cell-partitioned vectors directory
    ``vectors/gen=g*/cell=*``, and the side relation is the versioned
    frozen ``quantizer``."""

    id_col = "neighbor_id"
    gen_dir = "vectors"
    gen_prefix = "gen="
    aux = "quantizer"

    def gen_read(self, m: dict, gens: list) -> DataFrame:
        """Pinned read of vector generation directories under
        ``basePath`` (the recorded vectors schema plus the ``gen``
        partition column the basePath read surfaces)."""
        from pyspark.sql.types import StringType, StructField, StructType

        s = m.get("schemas", {}).get("vectors")
        reader = self.spark.read.option("basePath", f"{self.path}/vectors")
        if s:
            st = StructType.fromJson(json.loads(s))
            reader = reader.schema(
                StructType(
                    list(st.fields)
                    + [StructField("gen", StringType(), True)]
                )
            )
        return reader.parquet(*[self.gen_path(g) for g in gens])

    def read_ids(self, m, gens=None):
        gens = m["generations"] if gens is None else gens
        return self.gen_read(m, gens).select("neighbor_id")

    def rewrite_generation(self, m, g, gnew, keep):
        kept = keep(self.gen_read(m, [g]).drop("gen"))
        self.write(
            kept.repartition("cell"), self.gen_rel(gnew), partition_by="cell"
        )

    def write_compacted(self, m, gen, keep):
        live = keep(self.gen_read(m, m["generations"]).drop("gen"))
        self.write(
            live.repartition(int(m["params"]["n_cells"]), "cell"),
            self.gen_rel(gen),
            partition_by="cell",
        )
        return {}


def _read_vectors(
    spark: SparkSession,
    path: str,
    m: dict,
    include_tombstoned: bool = False,
) -> DataFrame:
    """Union of the committed generations. ``basePath`` keeps ``cell``
    a PARTITION column across the multi-generation read, so the probe
    predicates still prune directories (plan-tested). Tombstoned rows
    are anti-joined out (skinny id set, broadcast-small) unless the
    caller needs the physical view (``include_tombstoned=True`` — the
    append idempotency check, which must keep deleted ids UNAVAILABLE
    until compaction frees them)."""
    store = IvfStore(spark, path)
    out = store.gen_read(m, m["generations"]).drop("gen")
    tombs = store.tombstones(m)
    if tombs is not None and not include_tombstoned:
        out = out.join(tombs, "neighbor_id", "left_anti")
    return out


def committed_manifest(
    spark: SparkSession, path: str, as_of: int | None = None
) -> dict:
    """Public read API: the committed manifest (newest, or the exact
    version ``as_of``) — the supported way for OTHER modules (sync,
    maintenance, sinks) to observe index state. Carries
    ``generations`` / ``quantizer`` / ``params`` / ``tombstones`` /
    ``batches`` / optional ``gen_stats`` + ``synced`` and the
    ``_seq`` expected by the next commit."""
    return IvfStore(spark, path).committed(as_of)


def read_tombstones(
    spark: SparkSession, path: str, manifest: dict | None = None
) -> DataFrame | None:
    """Public read API: the committed tombstone set
    ``(neighbor_id)``, or ``None`` when empty. ``manifest`` (from
    :func:`committed_manifest`) avoids a re-read."""
    store = IvfStore(spark, path)
    return store.tombstones(
        manifest if manifest is not None else store.committed()
    )


def read_vectors(
    spark: SparkSession,
    path: str,
    manifest: dict | None = None,
    include_tombstoned: bool = False,
) -> DataFrame:
    """Public read API: the stored vectors across the committed
    generations (``neighbor_id, cv, cell, cn`` [+ ``codes`` in PQ
    layout]), tombstones anti-joined out unless the caller needs the
    physical view."""
    m = manifest if manifest is not None else committed_manifest(spark, path)
    return _read_vectors(spark, path, m, include_tombstoned)


def _read_centroids(spark: SparkSession, path: str, m: dict):
    """Frozen coarse quantizer of the committed manifest, as an
    ndarray ordered by cell."""
    cent_rows = sorted(
        index_fs.pinned_read(
            spark, m, "centroids",
            f"{path}/quantizer/{m['quantizer']}/centroids",
        ).collect(),
        key=lambda r: r["cell"],
    )
    return np.array([list(r["centroid"]) for r in cent_rows])


def _read_pq_codebooks(spark: SparkSession, path: str, m_fest: dict):
    """(m, pq_k, codebooks) decoded from the committed PQ
    sub-codebooks."""
    cb_rows = index_fs.pinned_read(
        spark, m_fest, "codebooks",
        f"{path}/quantizer/{m_fest['quantizer']}/codebooks",
    ).collect()
    m = 1 + max(r["subspace"] for r in cb_rows)
    pq_k = 1 + max(r["code"] for r in cb_rows)
    subdim = len(cb_rows[0]["centroid"])
    codebooks = [np.zeros((pq_k, subdim)) for _ in range(m)]
    for r in cb_rows:
        codebooks[r["subspace"]][r["code"]] = list(r["centroid"])
    return m, pq_k, codebooks


def _encode(rows: DataFrame, corpus_id: str, vec_col: str,
            cents, codebooks) -> DataFrame:
    """``(neighbor_id, cv[, codes], cell, cn)`` rows of a corpus under
    a quantizer — the one encoding both build and append write."""
    if codebooks is not None:
        encode = _pq_encode_udf(cents, codebooks)
        base = rows.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(vec_col).cast("array<float>").alias("cv"),
            encode(F.col(vec_col)).alias("e"),
        ).select(
            "neighbor_id", "cv", F.col("e.codes").alias("codes"),
            F.col("e.cell").alias("cell"),
        )
    else:
        base = rows.select(
            F.col(corpus_id).alias("neighbor_id"),
            # stored as float: the engine-wide contract casts to
            # double before any arithmetic, and float→double→float
            # round-trips the original float embeddings losslessly —
            # so the index is half the bytes (and parquet list-decode
            # work) with bit-identical scores (equality-tested)
            F.col(vec_col).cast("array<float>").alias("cv"),
            _cell_assign_udf(cents, 1)(F.col(vec_col))[0].alias("cell"),
        )
    return base.withColumn("cn", l2_norm(as_double_array(F.col("cv"))))


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str,
    vec_col: str = "embedding",
    n_cells: int | None = 32,
    sample_cap: int = 4096,
    m: int | None = None,
    pq_k: int = 16,
) -> int:
    """Train the coarse quantizer and write the cell-partitioned
    index under ``path``. Returns the cell count (√n auto-scale when
    ``n_cells=None``). REBUILD of an existing index is atomic: a
    fresh generation, visible only at the manifest commit.

    With ``m`` set, PQ sub-codebooks train on the same sample and
    each row additionally carries its ``m`` byte codes; the ADC probe
    then reads ONLY (neighbor_id, codes) — column pruning drops the
    raw-vector column from the candidate scan entirely, so the
    byte-code layout and the exact vectors coexist in one table with
    each probe phase paying only for the columns it touches."""
    if n_cells is None:
        n = corpus.count()
        n_cells = max(2, min(int(round(n**0.5)), 1024))
    sample = _sample_matrix(corpus, corpus_id, vec_col, sample_cap)
    cents = _spherical_kmeans(sample, n_cells, 8)
    spark = corpus.sparkSession
    store = IvfStore(spark, path)
    prev = store.head()
    gen = store._allocator(prev or {})()
    codebooks = cb_df = None
    if m is not None:
        norms = np.linalg.norm(sample, axis=1)
        unit = sample[norms > 0] / norms[norms > 0, None]
        dim = sample.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        subdim = dim // m
        codebooks = [
            _kmeans_euclid(unit[:, j * subdim : (j + 1) * subdim], pq_k, 8)
            for j in range(m)
        ]
        cb_df = local_frame(
            spark,
            [
                (j, c, [float(x) for x in codebooks[j][c]])
                for j in range(m)
                for c in range(pq_k)
            ],
            "subspace bigint, code bigint, centroid array<double>",
        )
        store.write(cb_df.coalesce(1), f"quantizer/{gen}/codebooks")
    vec_df = _encode(corpus, corpus_id, vec_col, cents, codebooks)
    # co-locate each cell before the partitioned write: one file per
    # cell directory instead of (writer tasks × cells) shards
    store.write(
        vec_df.repartition(n_cells, "cell"), store.gen_rel(gen),
        partition_by="cell",
    )
    cent_df = local_frame(
        spark,
        [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
        "cell bigint, centroid array<double>",
    )
    store.write(cent_df.coalesce(1), f"quantizer/{gen}/centroids")
    # readback pinned from the plan just written — no inference job;
    # reader schemas recorded in the manifest (the MERGE tables'
    # ``schema`` convention) so every later read plans job-free
    st = index_fs.id_bounds(
        spark.read.schema(vec_df.schema).parquet(store.gen_path(gen)),
        "neighbor_id",
    )
    schemas = index_fs.relation_schemas(
        vectors=vec_df,
        centroids=cent_df,
        tombstones=vec_df.select("neighbor_id"),
        **({"codebooks": cb_df} if cb_df is not None else {}),
    )
    # layout is RECORDED in the manifest, never inferred from
    # filesystem probes (a driver-local exists() check lies on
    # HDFS/S3 and would silently append PQ rows without codes).
    # Unknown manifest keys (sync markers, future metadata) carry
    # forward verbatim — the rule every other mutation follows; a
    # drift rebuild that stripped 'synced' would force the next sync
    # epoch back to seed_from_seq
    store.commit(prev, {
        "generations": [gen],
        "quantizer": gen,
        "schemas": schemas,
        # per-generation id range for targeted rewrites
        # (unblock_ivf_ids) — prune untouched generations unread
        "gen_stats": {gen: st} if st else {},
        "params": {
            "n_cells": n_cells,
            "m": m,
            "pq_k": pq_k if m is not None else None,
        },
        # a rebuild writes exactly its input corpus: previously
        # tombstoned rows are physically absent, so the tombstone
        # set resets (the retention boundary, like compaction)
        "tombstones": [],
        # the epoch ledger survives a rebuild: the rebuilt index
        # still CONTAINS every ledgered batch's vectors, so a
        # redelivered epoch must keep ledger-skipping (and the
        # streaming sink's collision detection keeps working)
        "batches": prev.get("batches", []) if prev else [],
    })
    return n_cells


def append_to_ivf_index(
    path: str,
    batch: DataFrame,
    corpus_id: str,
    vec_col: str = "embedding",
    batch_id: str | None = None,
) -> int:
    """Add vectors to a prebuilt index under the FROZEN coarse
    quantizer — the standard IVF ingest contract: new vectors assign
    to the EXISTING cells (and, in PQ layout, encode against the
    existing codebooks), so every prior probe result is untouched and
    the append is batch-sized work (assign + one generation write —
    no corpus rewrite, no retraining job). Returns the number of
    vectors actually appended.

    Idempotent: ids already committed are anti-joined out first (one
    shuffle of the column-pruned id column — linear, id-only), so a
    retried ingest batch is a no-op returning 0. Crash-atomic: the
    new generation becomes visible only when the manifest commits;
    earlier crashes leave probes on the pre-append state exactly, the
    orphan directory is swept by the next writer, and re-running
    heals. The layout (plain vs PQ) comes from the stored ``meta`` —
    never from driver-local filesystem probes.

    Re-training the quantizer is by definition a rebuild, not an
    append; if the ingested distribution drifts far from the training
    sample, cell occupancy skews and recall degrades — monitor with
    :func:`ivf_occupancy_stats` and rebuild on drift, exactly as
    FAISS-style serving systems do.

    ``batch_id`` rides a manifest ledger (the merge-table pattern):
    a committed id makes the whole retried append ONE manifest read —
    the streaming sink's exactly-once fast path — instead of the
    anti-join recheck, which remains the correctness backstop for
    un-ledgered callers.
    """
    store = IvfStore(batch.sparkSession, path)

    def write_generation(m_fest, novel, known, gen):
        novel = novel.persist()
        try:
            # large-batch path: the count the append needs anyway +
            # the generation's id bounds in one aggregate action
            n_novel, st = known or index_fs.count_and_bounds(
                novel, corpus_id
            )
            if n_novel == 0:
                return 0, None, {}
            cents = _read_centroids(store.spark, path, m_fest)
            codebooks = (
                _read_pq_codebooks(store.spark, path, m_fest)[2]
                if m_fest["params"]["m"] is not None
                else None
            )
            vec_df = _encode(novel, corpus_id, vec_col, cents, codebooks)
            store.write(
                vec_df.repartition("cell"), store.gen_rel(gen),
                partition_by="cell",
            )
            # reader schemas: carried forward from the manifest;
            # BACKFILLED for pre-schema manifests where derivable (the
            # quantizer relations are not in hand here — they stay on
            # inference until a rebuild records them)
            schemas = m_fest.get("schemas") or index_fs.relation_schemas(
                vectors=vec_df,
                tombstones=vec_df.select("neighbor_id"),
            )
            return n_novel, st, {"schemas": schemas}
        finally:
            novel.unpersist()

    return store.append(batch, corpus_id, write_generation, batch_id)


def delete_from_ivf_index(
    path: str,
    ids: DataFrame,
    corpus_id: str,
) -> int:
    """Tombstone vectors out of the index. Returns the number of ids
    newly tombstoned.

    LSM-style logical delete under the same manifest protocol as
    append: a skinny committed tombstone set that every probe
    anti-joins — deleted vectors stop ranking IMMEDIATELY; the rows
    stay on disk until :func:`compact_ivf_index` removes them
    physically. Idempotent (never-indexed and already-tombstoned ids
    filter out, re-run returns 0), crash-atomic, and a tombstoned id
    stays unavailable to :func:`append_to_ivf_index` until
    compaction.
    """
    return IvfStore(ids.sparkSession, path).delete(ids, corpus_id)


def compact_ivf_index(spark: SparkSession, path: str) -> None:
    """Rewrite the committed vectors as ONE generation: merge
    generations, physically drop tombstoned rows, clear the tombstone
    set, keep the FROZEN quantizer (compaction reorganizes storage,
    it never retrains — that is a rebuild). Bounds probe read
    amplification (#generation directories per pruned scan) and
    frees deleted ids for re-admission. Atomic like every mutation;
    superseded directories are swept after the manifest lands.
    """
    IvfStore(spark, path).compact()


def vacuum_ivf_index(
    spark: SparkSession, path: str, keep_versions: int = 1
) -> dict:
    """Retention for the IVF index's version ledger — the vector
    symmetry of :func:`~sqltask_spark.operators.dedup_index.
    vacuum_minhash_index`: drop all but the newest ``keep_versions``
    manifests, sweep vector generations, superseded quantizers
    (every drift rebuild leaves one), and tombstone sets no
    surviving manifest references. Newest committed state untouched;
    time travel to a dropped version errors loudly afterwards.
    Writer-context only."""
    return IvfStore(spark, path).vacuum(keep_versions)


def unblock_ivf_ids(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    corpus_id: str,
) -> dict:
    """Free SPECIFIC tombstoned ids for re-admission by rewriting
    ONLY the generations holding their rows — the vector symmetry of
    :func:`~sqltask_spark.operators.dedup_index.unblock_minhash_ids`
    and the targeted alternative to :func:`compact_ivf_index`.

    Candidate generations are pruned against the manifest's
    per-generation [min,max] id stats (``gen_stats``), confirmed with
    one skinny semi-join each; confirmed generations are rewritten
    minus the blocked rows (same cell-partitioned layout, FROZEN
    quantizer untouched), and the tombstone set is rewritten without
    the freed ids. Untouched generations keep their directories and
    manifest names. Returns ``{"unblocked",
    "rewritten_generations", "candidate_generations"}``; idempotent and crash-atomic like
    every index mutation.
    """
    return IvfStore(spark, path).unblock(ids, corpus_id)


def ivf_occupancy_stats(
    spark: SparkSession, path: str, as_of: int | None = None
) -> DataFrame:
    """The drift signal the frozen-quantizer contract prescribes: a
    one-row summary of per-cell occupancy over the committed index.

    The frozen quantizer stays healthy only while ingested batches
    resemble the training sample; drift shows up as cells outgrowing
    the mean. ``concentration_micro`` = max·1e6 div truncated-mean
    (the :func:`~sqltask_spark.queries.events.event_key_skew_profile`
    integer discipline — the micro product is bounded by max·1e6, so
    it cannot overflow on exactly the hot-cell shapes it exists to
    find). Rebuild when the ratio trends away from its build-time
    value. One map-side-combined census groupBy(cell) — shuffle is
    cell-count-sized, never vector-sized; the scan reads the
    partition column only. ``as_of`` profiles a PAST committed
    version (how did occupancy look before this week's ingest?).
    """
    m = committed_manifest(spark, path, as_of)
    census = (
        _read_vectors(spark, path, m)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return census.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells_used"),
        F.sum("c").cast("long").alias("n_vectors"),
        F.max("c").cast("long").alias("max_occupancy"),
        F.min("c").cast("long").alias("min_occupancy"),
    ).select(
        "n_cells_used",
        "n_vectors",
        "max_occupancy",
        "min_occupancy",
        F.expr(
            "(max_occupancy * 1000000)"
            " div (n_vectors div n_cells_used)"
        )
        .cast("long")
        .alias("concentration_micro"),
    )


def probe_ivf_index_distributed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    query_id: str,
    query_vec: str = "embedding",
    k: int = 10,
    n_probe: int = 8,
    round_digits: int = 6,
    exclude_self: bool = True,
    as_of: int | None = None,
) -> DataFrame:
    """Large-batch probe of a prebuilt IVF index: no driver collect
    of the query set (cf. the per-call operators' dual path —
    :func:`~sqltask_spark.operators.similarity.cosine_topk_ivf` with
    a query set past ``max_driver_queries``).

    The probe-cell assignment runs as the same Arrow-batched UDF the
    per-call path uses (bit-identical argsort), the index⋈probe join
    is salted (:func:`~sqltask_spark.operators.similarity.
    _salted_cell_join` — the cell key alone has only n_cells distinct
    values), and nothing query-sized ever lands on the driver.

    Directory pruning is intentionally absent here: a query batch
    large enough for this path probes essentially every cell, so the
    scan-pruning win of :func:`probe_ivf_index` does not exist for it
    — what remains is the index's other amortization (no re-train /
    re-encode per call), which this path keeps.
    """
    from sqltask_spark.data import ensure_min_partitions
    from sqltask_spark.operators.similarity import _salted_cell_join

    m_fest = committed_manifest(spark, path, as_of)
    cents = _read_centroids(spark, path, m_fest)
    assigned = queries.select(
        F.col(query_id).alias("query_id"),
        as_double_array(F.col(query_vec)).alias("qv"),
        _cell_assign_udf(cents, n_probe)(F.col(query_vec)).alias(
            "cells"
        ),
    ).persist()
    probes_df = assigned.select(
        "query_id", F.explode("cells").alias("cell")
    )
    qvecs_df = assigned.select("query_id", "qv").withColumn(
        "qn", l2_norm(F.col("qv"))
    )
    ci = ensure_min_partitions(_read_vectors(spark, path, m_fest))
    joined = _salted_cell_join(ci, probes_df, len(cents))
    if exclude_self:
        # corpus-style probes share the corpus id space, where a
        # query's own row is a degenerate hit. For an EXTERNAL query
        # batch whose ids only coincidentally collide with corpus
        # ids, pass exclude_self=False or a legitimate neighbor is
        # silently dropped.
        joined = joined.filter(
            F.col("query_id") != F.col("neighbor_id")
        )
    scored = (
        joined
        .join(qvecs_df, "query_id")
        .withColumn(
            "score",
            F.round(
                cosine_prenormed(
                    F.col("qv"), as_double_array(F.col("cv")),
                    F.col("qn"), F.col("cn")
                ),
                round_digits,
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    from sqltask_spark.data import materialize_and_release

    return materialize_and_release(out, assigned)


def probe_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    query_id: str,
    query_vec: str = "embedding",
    k: int = 10,
    n_probe: int = 8,
    round_digits: int = 6,
    use_pq: bool = False,
    refine_factor: int = 8,
    as_of: int | None = None,
) -> DataFrame:
    """Top-k cosine over a prebuilt index: centroid scan (tiny),
    driver-side probe assignment for the broadcast-small query batch,
    then ONE pruned scan of the probed cells.

    ``use_pq=True`` (requires an index built with ``m``): the
    candidate pass reads only (neighbor_id, codes, cell) — column
    pruning keeps the raw-vector bytes out of the scan — ranks by
    unrolled ADC lookups, and re-reads the exact vectors for just the
    top ``refine_factor × k`` ids before the final exact-cosine
    ranking (same two-phase shape as
    :func:`~sqltask_spark.operators.similarity.cosine_topk_ivf_pq`).
    For query batches too large to collect, use
    :func:`probe_ivf_index_distributed`. ``as_of`` probes a PAST
    committed version (reproducible audit of an earlier serving
    state); versions reclaimed by compaction/rebuild error loudly.
    """
    m_fest = committed_manifest(spark, path, as_of)
    cents = _read_centroids(spark, path, m_fest)
    q_base = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv")
    )
    q_rows = q_base.collect()
    q_mat = np.array([list(r["qv"]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(q_mat, axis=1)
    qn[qn == 0] = 1.0
    cn = np.linalg.norm(cents, axis=1)
    cn[cn == 0] = 1.0
    sims = (q_mat / qn[:, None]) @ (cents / cn[:, None]).T
    order = np.argsort(-sims, axis=1)[:, :n_probe]
    probes_df = local_frame(
        spark,
        [
            (r["query_id"], int(order[i, j]))
            for i, r in enumerate(q_rows)
            for j in range(order.shape[1])
        ],
        query_side_schema(q_base, "cell bigint"),
    )
    qvecs_df = local_frame(
        spark,
        [(r["query_id"], [float(x) for x in r["qv"]]) for r in q_rows],
        query_side_schema(q_base, "qv array<double>"),
    ).withColumn("qn", l2_norm(F.col("qv")))
    probed_cells = sorted({int(c) for row in order for c in row})
    # the isin predicate on the PARTITION column prunes directories at
    # the scan (PartitionFilters — plan-tested); the per-query cell
    # equi-join then narrows within the read cells. The scoring
    # stage's parallelism must scale with the CANDIDATE VOLUME
    # (scan rows × queries per probed cell), NOT the pruned file
    # count: small appended generations coalesce into few input
    # splits, and a map partition whose scored pairs outgrow the sort
    # buffer sends the stage's partial top-k sort into disk spill —
    # measured 9× (6.6 s → 58.8 s at 11.6M pairs on 16 splits after
    # five small appends; 32+ splits restore it). The count() below
    # is metadata-only (zero data columns on a partition-pruned
    # scan); ~250k scored pairs per task stays far inside the buffer.
    from sqltask_spark.data import ensure_min_partitions

    ci = _read_vectors(spark, path, m_fest).filter(
        F.col("cell").isin(probed_cells)
    )
    n_cand = ci.count()
    pairs_per_cand = max(
        1, (len(q_rows) * n_probe) // max(1, len(probed_cells))
    )
    target = int(
        min(
            4096,
            max(
                spark.sparkContext.defaultParallelism,
                (n_cand * pairs_per_cand) // 250_000,
            ),
        )
    )
    ci = ensure_min_partitions(ci, target)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    if use_pq:
        m, pq_k, codebooks = _read_pq_codebooks(spark, path, m_fest)
        subdim = codebooks[0].shape[1]
        q_unit = q_mat / qn[:, None]
        luts = np.concatenate(
            [
                q_unit[:, j * subdim : (j + 1) * subdim] @ codebooks[j].T
                for j in range(m)
            ],
            axis=1,
        )
        lut_df = local_frame(
            spark,
            [
                (r["query_id"], [float(x) for x in luts[i]])
                for i, r in enumerate(q_rows)
            ],
            query_side_schema(q_base, "lut array<double>"),
        )
        terms = [
            F.get("lut", i * pq_k + F.get("codes", F.lit(i)).cast("int"))
            for i in range(m)
        ]
        adc = terms[0]
        for t in terms[1:]:
            adc = adc + t
        pool = (
            ci.select("neighbor_id", "codes", "cell")
            .join(F.broadcast(probes_df), "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .join(F.broadcast(lut_df), "query_id")
            .withColumn("adc", adc)
        )
        w_adc = Window.partitionBy("query_id").orderBy(
            F.desc("adc"), F.asc("neighbor_id")
        )
        cand = (
            pool.withColumn("r", F.row_number().over(w_adc))
            .filter(F.col("r") <= refine_factor * k)
            .select("query_id", "neighbor_id")
        )
        exact = (
            cand.join(
                _read_vectors(spark, path, m_fest).select(
                    "neighbor_id", "cv", "cn"
                ),
                "neighbor_id",
            )
            .join(F.broadcast(qvecs_df), "query_id")
            .withColumn(
                "score",
                F.round(
                    cosine_prenormed(
                        F.col("qv"), as_double_array(F.col("cv")),
                        F.col("qn"), F.col("cn")
                    ),
                    round_digits,
                ),
            )
            .select("query_id", "neighbor_id", "score")
        )
        return (
            exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
    pool = ci.join(F.broadcast(probes_df), "cell")
    # two-phase scoring past the pair bar (cf. cosine_topk_brute): a
    # BLAS pass over the pruned index scan, masked to each query's
    # probed cells via the STORED cell column, selects the provably
    # complete candidate superset; the exact fold runs on survivors
    # over the same probed-cell join — bit-identical results
    if (
        n_cand * pairs_per_cand >= BRUTE_PREFILTER_MIN_PAIRS
        and len(q_rows) >= 32
        and all(
            r["qv"] is not None and len(r["qv"]) == len(q_rows[0]["qv"])
            for r in q_rows
        )
        and len(q_rows[0]["qv"])
    ):
        cand = _cell_candidate_pairs(
            ci,
            "neighbor_id",
            "cv",
            [(r["query_id"], r["qv"]) for r in q_rows],
            order,
            k,
            cell_col="cell",
        )
        pool = pool.join(F.broadcast(cand), ["query_id", "neighbor_id"])
    scored = (
        pool
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(qvecs_df), "query_id")
        .withColumn(
            "score",
            F.round(
                cosine_prenormed(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ),
                round_digits,
            ),
        )
        .drop("qv", "cv", "qn", "cn", "cell")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
