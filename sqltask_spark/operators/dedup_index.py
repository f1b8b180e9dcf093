"""Persisted MinHash-LSH near-dup index: build once, screen batches.

No reference counterpart (north-star extension). The per-call pair
operators (:func:`sqltask_spark.operators.dedup.minhash_dedup_pairs`)
re-shingle and re-sign the WHOLE corpus per invocation — right for a
one-shot dedup pass, wrong for the production ingest loop where a
small new batch must be screened against a 100 TB corpus every hour.
This module is the batch analog of the streaming screen
(:mod:`sqltask_spark.streaming.corpus`), shaped like the persistent
ANN index (:mod:`sqltask_spark.operators.ann_index`):

- **build** pays the corpus pass once and stores four relations:
  the LSH bucket postings ``(band, band_hash, id)``, the bucket
  SIZES ``(band, band_hash, bucket_size)`` (kept separate from the
  postings precisely so they stay mergeable — see append), the
  shingle-hash sets ``(id, h)`` for exact-Jaccard verification, and
  the signature parameters (a probe MUST band identically — they're
  read back, never re-specified).
- **probe** touches only batch-sized data plus the posting/shingle
  rows its buckets actually hit: signatures for the batch, one
  equi-join on (band, band_hash), exact Jaccard against the stored
  shingle sets of the candidates only. ``bucket_size`` is a stored
  join so hot boilerplate buckets are skipped without a runtime
  census.
- **append** closes the production ingest loop: after a probe
  admits a batch's novel documents, appending them makes the NEXT
  batch screen against them too — batch-sized work only (new
  postings and shingles land as a fresh GENERATION directory; the
  skinny sizes relation is re-derived as old ∪ new → sum into a
  fresh VERSION directory). At 100 TB the index is built once and
  appended on every ingest.
- **delete / compact** complete the mutation lifecycle LSM-style:
  :func:`delete_from_minhash_index` commits a skinny tombstone set
  probes anti-join (takedowns take effect immediately, rows stay on
  disk); :func:`compact_minhash_index` merges the generations,
  physically drops tombstoned docs, refreshes sizes, clears the
  tombstones, and frees deleted ids for re-admission — bounding
  probe read amplification on the LSM cadence.

Durability layout (the :mod:`~sqltask_spark.operators.index_fs`
commit protocol — new-files-only + numbered-manifest publish)::

    path/manifests/manifest-*.json newest parseable wins; carries
                                   the signature params (atomic with
                                   the generation set they sign)
    path/data/g000001/postings     one generation per commit
    path/data/g000001/shingles
    path/sizes/g000001             full merged sizes per commit
    path/tombstones/g000001        committed logical deletes

Every mutation (append, delete, compact, rebuild) is IDEMPOTENT and
CRASH-ATOMIC, matching the engine-wide
batch-idempotency principle (re-running a batch never corrupts —
cf. the W1/W2 sinks): ids already committed are anti-joined out of
the batch, so a retried ingest is a no-op rather than a silent
posting double-insert; a crash anywhere before the manifest lands
leaves every reader serving the pre-append state bit-for-bit (the
orphan generation is swept by the next writer). Re-running the
crashed append heals. Single WRITER at a time is the contract
(standard for LSM-ish indexes); concurrent readers are always safe.

Probing with the corpus itself reproduces the per-call operator's
pairs exactly (tested) — the index changes WHEN work happens, never
WHAT the result is; probe-after-append is bit-identical to a probe
of a fresh build over the union corpus (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame
from sqltask_spark.operators.dedup import (
    _banded_signatures,
    _signatures_wide,
    shingled_docs,
)
from sqltask_spark.operators import index_fs


def _bucket_sizes(postings: DataFrame) -> DataFrame:
    """``(band, band_hash, bucket_size)`` census of a postings
    relation."""
    return postings.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).cast("long").alias("bucket_size")
    )


class MinHashStore(index_fs.GenerationStore):
    """The MinHash index on the shared generation protocol
    (:class:`~sqltask_spark.operators.index_fs.GenerationStore`): a
    generation holds the ``postings`` and ``shingles`` relations under
    ``data/g*``, and the side relation is the merged bucket ``sizes``
    (one full version per commit under ``sizes/``)."""

    id_col = "id"
    gen_dir = "data"
    aux = "sizes"

    def relation(
        self, m: dict, rel: str, gens: "list[str] | None" = None
    ) -> DataFrame:
        """Pinned read of ``rel`` (``postings``/``shingles``) over
        ``gens`` (default: the committed generations)."""
        gens = m["generations"] if gens is None else gens
        return index_fs.pinned_read(
            self.spark, m, rel, *[f"{self.gen_path(g)}/{rel}" for g in gens]
        )

    def read_ids(self, m, gens=None):
        return self.relation(m, "shingles", gens).select("id")

    def rewrite_generation(self, m, g, gnew, keep):
        for rel in ("postings", "shingles"):
            self.write(keep(self.relation(m, rel, [g])), f"data/{gnew}/{rel}")

    def rewrite_aux(self, m, affected, drop, alloc):
        # sizes: subtract exactly the dropped postings' bucket counts
        # (never a full recount — the sizes relation stays the same
        # conservative as-built census compaction would refresh).
        # No affected generation (a phantom tombstone whose rows are
        # already gone) drops no postings — the committed sizes
        # version carries over unchanged.
        if not affected:
            return {}
        dropped = (
            drop(self.relation(m, "postings", affected))
            .groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        sizes_gen = alloc()
        self.write(
            _read_sizes(self.spark, self.path, m)
            .join(dropped, ["band", "band_hash"], "left")
            .select(
                "band",
                "band_hash",
                (
                    F.col("bucket_size") - F.coalesce(F.col("c"), F.lit(0))
                ).cast("long").alias("bucket_size"),
            )
            .filter(F.col("bucket_size") > 0),
            f"sizes/{sizes_gen}",
        )
        return {"sizes": sizes_gen}

    def write_compacted(self, m, gen, keep):
        for rel in ("postings", "shingles"):
            self.write(keep(self.relation(m, rel)), f"data/{gen}/{rel}")
        # sizes recomputed over the surviving postings just written
        self.write(
            _bucket_sizes(self.relation(m, "postings", [gen])),
            f"sizes/{gen}",
        )
        return {"sizes": gen}


def _read_postings(spark: SparkSession, path: str, m: dict) -> DataFrame:
    return MinHashStore(spark, path).relation(m, "postings")


def _read_shingles(spark: SparkSession, path: str, m: dict) -> DataFrame:
    return MinHashStore(spark, path).relation(m, "shingles")


def _read_sizes(spark: SparkSession, path: str, m: dict) -> DataFrame:
    return index_fs.pinned_read(
        spark, m, "sizes", f"{path}/sizes/{m['sizes']}"
    )


def committed_manifest(
    spark: SparkSession, path: str, as_of: int | None = None
) -> dict:
    """Public read API: the committed manifest (newest, or the exact
    version ``as_of``) — the supported way for OTHER modules (sync,
    maintenance, sinks) to observe index state without touching
    manifest internals. The dict carries ``generations`` / ``sizes`` /
    ``params`` / ``tombstones`` / optional ``gen_stats`` + ``synced``
    and the ``_seq`` expected by the next commit."""
    return MinHashStore(spark, path).committed(as_of)


def read_tombstones(
    spark: SparkSession, path: str, manifest: dict | None = None
) -> DataFrame | None:
    """Public read API: the committed tombstone id set ``(id)`` as a
    DataFrame, or ``None`` when no tombstone set is committed.
    ``manifest`` (from :func:`committed_manifest`) avoids a second
    manifest read when the caller already holds one."""
    store = MinHashStore(spark, path)
    return store.tombstones(
        manifest if manifest is not None else store.committed()
    )


def read_index_ids(
    spark: SparkSession, path: str, manifest: dict | None = None
) -> DataFrame:
    """Public read API: the PHYSICAL document ids stored across the
    committed generations, one row per id (``(id)``), tombstoned rows
    included — the denominator for tombstone-ratio health checks and
    the membership relation for sync planning. One row per stored
    document (appends anti-join committed ids, so generations never
    overlap — no distinct needed)."""
    store = MinHashStore(spark, path)
    return store.read_ids(
        manifest if manifest is not None else store.committed()
    )


def build_minhash_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    shingle_n: int = 3,
) -> None:
    """One corpus pass → postings + sizes + shingles + meta under
    ``path``, published atomically by the next manifest. REBUILD of
    an existing index is safe (and itself atomic): the new state
    writes to a FRESH generation and becomes visible only at the
    manifest commit; prior generations turn into orphans swept by the
    next writer."""
    assert num_perm % bands == 0, "bands must divide num_perm"
    spark = corpus.sparkSession
    store = MinHashStore(spark, path)
    prev = store.head()
    gen = store._allocator(prev or {})()
    shingled = shingled_docs(corpus, id_col, text_col, shingle_n).persist()
    try:
        wide = _signatures_wide(shingled, num_perm, seed)
        banded = _banded_signatures(wide, bands, num_perm // bands)
        store.write(banded, f"data/{gen}/postings")
        # sizes from the postings just WRITTEN, not from the banded
        # plan (r12): re-evaluating `banded` would run the exploded
        # 64-min-aggregate signature shuffle a second time over the
        # whole corpus — reading back the skinny (band, band_hash)
        # columns is one column-pruned scan of data the page cache
        # still holds (the shape compact_minhash_index already uses),
        # and at 100 TB it avoids pinning corpus-scale signatures in
        # executor memory that a persist would cost.
        # (schema pinned from the plan just written — no inference job)
        sizes_df = _bucket_sizes(
            spark.read.schema(banded.schema)
            .parquet(f"{path}/data/{gen}/postings")
        )
        store.write(sizes_df, f"sizes/{gen}")
        store.write(shingled, f"data/{gen}/shingles")
        st = index_fs.id_bounds(shingled, "id")
        # reader schemas ride the manifest (like the MERGE tables'
        # ``schema``): every later read plans with ZERO jobs instead
        # of a distributed footer-inference job per call site
        schemas = index_fs.relation_schemas(
            postings=banded, shingles=shingled, sizes=sizes_df,
            tombstones=shingled.select("id"),
        )
        # unknown manifest keys (sync markers, batch ledger, future
        # metadata) carry forward verbatim — a rebuild must never
        # strip another subsystem's state
        store.commit(prev, {
            "generations": [gen],
            "sizes": gen,
            "schemas": schemas,
            # a rebuild writes exactly its input corpus; the
            # tombstone set resets (retention boundary)
            "tombstones": [],
            # per-generation id range: lets targeted rewrites
            # (unblock_minhash_ids) prune untouched generations
            # without reading them
            "gen_stats": {gen: st} if st else {},
            # signature params ride IN the manifest: a probe must
            # band exactly as the generation set it reads was
            # signed, and the manifest is the only artifact that
            # changes atomically with that set (a separate meta
            # file could tear against it on rebuild)
            "params": {
                "num_perm": num_perm,
                "bands": bands,
                "seed": seed,
                "shingle_n": shingle_n,
            },
        })
    finally:
        shingled.unpersist()


def append_to_minhash_index(
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: str | None = None,
) -> int:
    """Add ``batch`` to an existing index — the admit step of the
    ingest loop (screen with :func:`probe_minhash_index`, keep the
    novel documents, append exactly those). Returns the number of
    documents actually appended.

    Batch-sized work plus one skinny corpus-id pass: ids already in
    the index are ANTI-JOINED out first (one shuffle of the
    column-pruned id column against the batch — linear, id-only), so
    a retried ingest batch is a NO-OP (returns 0) instead of a
    silent posting double-insert; the engine-wide batch-idempotency
    principle applied to the index. New postings and shingles land
    as a fresh generation directory, the merged sizes as a fresh
    version directory, and the commit is the manifest write — a
    crash at ANY earlier point leaves probes serving the pre-append
    state exactly (the orphan directories are swept on the next
    append, and re-running the append heals). Single writer at a
    time; readers never block.

    ``batch_id`` (r12, IVF-append parity) rides the manifest ledger:
    a committed id makes the whole retried append ONE manifest read
    — the streaming sink's exactly-once fast path — while the
    anti-join recheck stays the correctness backstop for un-ledgered
    callers and for ids trimmed past the retention horizon
    (:meth:`~sqltask_spark.operators.index_fs.GenerationStore.trim`).
    """
    store = MinHashStore(batch.sparkSession, path)

    def write_generation(m, novel, known, gen):
        meta = m["params"]
        # size the CPU-spread guard to a KNOWN batch (~256 docs per
        # task): repartitioning a 1-row window into the session's 32
        # partitions is an exchange + 32-task stages of pure overhead
        mp = None
        if known is not None:
            mp = max(
                1,
                min(
                    store.spark.sparkContext.defaultParallelism,
                    -(-known[0] // 256),
                ),
            )
        bsh = shingled_docs(
            novel, id_col, text_col, meta["shingle_n"], min_partitions=mp
        ).persist()
        banded = None
        try:
            # large-batch path: the count the append needs anyway +
            # the generation's id bounds in one aggregate action
            n_novel, st = known or index_fs.count_and_bounds(bsh, "id")
            if n_novel == 0:
                return 0, None, {}
            wide = _signatures_wide(bsh, meta["num_perm"], meta["seed"])
            banded = _banded_signatures(
                wide, meta["bands"], meta["num_perm"] // meta["bands"]
            ).persist()
            store.write(banded, f"data/{gen}/postings")
            store.write(bsh, f"data/{gen}/shingles")
            new_sizes = _bucket_sizes(banded)
            # merged sizes go to a NEW version directory — the
            # committed one is never touched (the old in-place swap
            # both raced its own read plan and tore under a crash),
            # and never a driver collect (the sizes relation is
            # bucket-count-sized — corpus-scaled at 100 TB)
            store.write(
                _read_sizes(store.spark, path, m)
                .unionByName(new_sizes)
                .groupBy("band", "band_hash")
                .agg(F.sum("bucket_size").cast("long").alias("bucket_size")),
                f"sizes/{gen}",
            )
            # reader schemas: carried forward from the manifest;
            # BACKFILLED here for pre-schema manifests (every
            # relation's schema is in hand), so an old index heals on
            # its next append
            schemas = m.get("schemas") or index_fs.relation_schemas(
                postings=banded, shingles=bsh, sizes=new_sizes,
                tombstones=bsh.select("id"),
            )
            return n_novel, st, {"sizes": gen, "schemas": schemas}
        finally:
            # release BOTH caches on every exit — a crash between the
            # postings write and the commit must not leak the banded
            # signatures for the session (the calibration-entry leak
            # class)
            if banded is not None:
                banded.unpersist()
            bsh.unpersist()

    return store.append(batch, id_col, write_generation, batch_id)


def delete_from_minhash_index(
    path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """Tombstone documents out of the index (takedowns, quality
    purges). Returns the number of ids newly tombstoned.

    LSM-style logical delete: a skinny tombstone set commits as its
    own versioned relation, and probes anti-join it — the deleted
    documents stop matching IMMEDIATELY while the posting/shingle
    rows stay on disk until :func:`compact_minhash_index` removes
    them physically. Idempotent (already-tombstoned and never-indexed
    ids are filtered out, so a re-run returns 0) and crash-atomic
    (same manifest protocol as append). A tombstoned id stays
    UNAVAILABLE to :func:`append_to_minhash_index` until compaction —
    re-admitting it earlier would be killed by its own tombstone
    (the classic LSM id-reuse hazard, excluded by construction).
    """
    return MinHashStore(ids.sparkSession, path).delete(ids, id_col)


def compact_minhash_index(spark: SparkSession, path: str) -> None:
    """Rewrite the committed state as ONE generation: merge all
    generations, physically drop tombstoned documents, recompute the
    sizes relation over the surviving postings, clear the tombstone
    set — the LSM compaction step that bounds read amplification
    (every probe joins #generations file lists) and frees deleted
    ids for re-admission.

    Full-index work by definition (run it on the amortization cadence
    appropriate to the append rate, exactly like LSM engines do); the
    commit is atomic like every other mutation — probes serve the old
    state until the manifest lands, and the superseded directories
    are swept once it has.
    """
    MinHashStore(spark, path).compact()


def vacuum_minhash_index(
    spark: SparkSession, path: str, keep_versions: int = 1
) -> dict:
    """Retention for the index's VERSION ledger: drop all but the
    newest ``keep_versions`` manifests, then sweep data/sizes/
    tombstone directories no surviving manifest references.

    Why this matters at scale: every mutation — append, delete,
    unblock, compaction, sync marker — commits one small manifest
    JSON, so a long-running ingest loop accumulates thousands of
    them; each ``committed_manifest`` read lists that directory, and
    superseded sizes versions (one FULL merged sizes relation per
    append) plus unblock-superseded generation directories stay on
    disk for time travel until something reclaims them. Vacuum is
    that something, on the same retention contract as
    :func:`~sqltask_spark.operators.merge.vacuum_parquet_table`:
    time travel to a dropped version errors loudly afterwards, the
    newest committed state is untouched (probe-invariance
    pytest-pinned). Writer-context only, like every mutation."""
    return MinHashStore(spark, path).vacuum(keep_versions)


def unblock_minhash_ids(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str = "doc_id",
) -> dict:
    """Free SPECIFIC tombstoned ids for re-admission by rewriting
    ONLY the generations that physically hold their rows — the
    targeted alternative to :func:`compact_minhash_index` when a sync
    window re-inserts a previously deleted key and a full-index
    rewrite would be paid to drop a handful of rows.

    Work is bounded by the AFFECTED generations: candidates are
    pruned first against the manifest's per-generation [min,max] id
    stats (``gen_stats`` — no read at all when the ranges are
    provably disjoint), then confirmed by ONE census job over all
    candidates at once; only confirmed generations are rewritten
    (their rows minus the blocked ids), the sizes relation is
    adjusted by subtracting exactly the dropped postings' bucket
    counts, and the tombstone set is rewritten without the freed ids.
    Untouched generations keep their directories AND their manifest
    names, so the commit is one manifest write naming mostly-old
    files — the Iceberg-style partial-rewrite shape.

    Returns ``{"unblocked", "rewritten_generations",
    "candidate_generations"}``. Idempotent
    (ids not currently tombstoned are ignored; re-run returns 0) and
    crash-atomic like every mutation: the new directories are
    invisible until the manifest lands, and superseded directories
    stay readable for time travel until the next compaction sweeps
    them.
    """
    return MinHashStore(spark, path).unblock(ids, id_col)


def probe_minhash_index(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    as_of: int | None = None,
) -> DataFrame:
    """Near-dup matches of ``batch`` against the indexed corpus.

    Returns (batch_id, corpus_id, n_shared_bands, jaccard) for every
    batch document whose exact shingle Jaccard with an indexed
    document reaches ``threshold``. Self-matches (same id) are
    dropped so a corpus can be probed against its own index. Reads
    only the generation set named by the newest committed manifest —
    an in-flight or crashed append is invisible. ``as_of`` probes a
    PAST committed version instead (time travel: "what would this
    batch have matched before yesterday's ingest?" — reproducible
    audit of an earlier screening decision); versions reclaimed by
    compaction error loudly.
    """
    from collections import Counter

    from sqltask_spark.data import materialize_and_release

    store = MinHashStore(spark, path)
    m = store.committed(as_of)
    meta = m["params"]
    # TINY-BATCH serving fast path (r13, VERDICT r12 next #5, guide
    # §1.2/§6): a probe of a handful of documents — the CDC sync
    # loops' post-mutation probes, point screening in a serving loop —
    # pays the corpus-postings bucket join and a full shingle-column
    # scan for candidate sets of a few rows. When the batch is small
    # enough that its banded signatures fit the isin-literal budget
    # (≤ SMALL_BATCH_CAP banded rows, i.e. ≤ cap/bands documents —
    # gated by ONE bounded narrow collect of the raw batch ids), the
    # batch's band hashes are collected and every corpus-scale scan
    # is PREFILTERED by literal membership that pushes down to
    # parquet: sizes and postings by ``band_hash IN (...)``, and —
    # after a second bounded collect of the candidate pairs — the
    # shingle verify scan by ``corpus_id IN (...)``. The original
    # equi-join conditions stay on top of every prefilter, so a
    # prefilter only removes rows that provably cannot match; results
    # are identical, and larger batches keep the join formulation
    # (their probe work is corpus-shaped anyway). An index with more
    # bands than the cap never takes the arm: even one document's
    # literals would pass the measured isin-vs-join crossover, and a
    # cap of 0 disables the arm outright.
    bands = int(meta["bands"])
    id_rows = (
        index_fs.collect_id_rows(
            batch, id_col, cap=index_fs.SMALL_BATCH_CAP // bands
        )
        if bands <= index_fs.SMALL_BATCH_CAP
        else None
    )
    sizes = _read_sizes(spark, path, m).filter(
        F.col("bucket_size") <= F.lit(max_bucket_size)
    )
    postings = _read_postings(spark, path, m)
    corpus_sh = _read_shingles(spark, path, m).select(
        F.col("id").alias("corpus_id"), F.col("h").alias("h_c")
    )
    tombs = store.tombstones(m)
    bsh = shingled_docs(
        batch, id_col, text_col, meta["shingle_n"],
        min_partitions=1 if id_rows is not None else None,
    ).persist()
    try:
        wide = _signatures_wide(bsh, meta["num_perm"], meta["seed"])
        banded = _banded_signatures(
            wide, meta["bands"], meta["num_perm"] // meta["bands"]
        ).select(
            F.col("id").alias("batch_id"), "band", "band_hash"
        )
        cand_hint = None
        if id_rows is not None:
            # ≤ cap banded rows by construction; the collect also
            # materializes the shingle cache for the verify join
            brows = banded.collect()
            bh = sorted({int(r["band_hash"]) for r in brows})
            keep = (
                F.col("band_hash").isin(bh) if bh else F.lit(False)
            )
            sizes = sizes.filter(keep)
            postings = postings.filter(keep)
            cand_hint = F.broadcast
        if tombs is not None:
            # deleted docs stop matching IMMEDIATELY (tombstone
            # anti-joins on the skinny id — broadcast-small until
            # compaction removes the rows physically); sizes stay
            # as-built, a conservative cap (compaction refreshes them)
            postings = postings.join(tombs, "id", "left_anti")
            corpus_sh = corpus_sh.join(
                tombs.select(F.col("id").alias("corpus_id")),
                "corpus_id",
                "left_anti",
            )
        postings = postings.join(
            sizes.select("band", "band_hash"), ["band", "band_hash"]
        )
        pairs = (
            (F.broadcast(banded) if cand_hint else banded)
            .join(postings, ["band", "band_hash"])
            .filter(F.col("batch_id") != F.col("id"))
            .select("batch_id", F.col("id").alias("corpus_id"))
        )
        cand = pairs.groupBy("batch_id", "corpus_id").agg(
            F.count(F.lit(1)).alias("n_shared_bands")
        )
        if id_rows is not None:
            # bounded collect of the JOINED pair rows, counted into
            # candidates driver-side → pushdown on the shingle verify
            # scan. A pair shares at most ``bands`` bands, so ≤ cap
            # candidates arrive as ≤ cap·bands rows; past either bound
            # (an adversarial bucket blowup) the aggregate above runs
            # in Spark over the already-prefiltered postings — once:
            # the bounded scan aggregated nothing and stops early
            bound = index_fs.SMALL_BATCH_CAP * bands
            prows = pairs.limit(bound + 1).collect()
            shared = Counter((r["batch_id"], r["corpus_id"]) for r in prows)
            if len(prows) <= bound and len(shared) <= index_fs.SMALL_BATCH_CAP:
                cids = sorted({c for _, c in shared})
                corpus_sh = corpus_sh.filter(
                    F.col("corpus_id").isin(cids)
                    if cids
                    else F.lit(False)
                )
                cand = F.broadcast(
                    local_frame(
                        spark,
                        [(b, c, n) for (b, c), n in shared.items()],
                        cand.schema,
                    )
                )
        b = bsh.select(F.col("id").alias("batch_id"), F.col("h").alias("h_b"))
        jac = F.size(F.array_intersect("h_b", "h_c")).cast("double") / F.size(
            F.array_union("h_b", "h_c")
        )
        out = (
            cand.join(F.broadcast(b) if cand_hint else b, "batch_id")
            .join(corpus_sh, "corpus_id")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= F.lit(threshold))
            .select("batch_id", "corpus_id", "n_shared_bands", "jaccard")
        )
        return materialize_and_release(out, bsh)
    except BaseException:
        bsh.unpersist()
        raise
