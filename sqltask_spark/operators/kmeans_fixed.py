"""Engine-portable fixed-point Lloyd k-means (the certificate family
for every k-means-dependent operator).

The production coarse quantizers (``_spherical_kmeans`` /
``_kmeans_euclid`` in :mod:`sqltask_spark.operators.similarity`) run
float numpy over a bounded driver-side sample — the right 100 TB
shape (sample-train, broadcast-assign) but inherently
engine-specific float math, which is why the IVF / semdedup / topic
catalog entries are rows-only. This module re-expresses Lloyd's
iteration in exact BIGINT fixed point over long-format
``(id, pos, el)`` rows so that EVERY step — init, assignment, update,
tie-breaks — is reproducible bit-for-bit by any engine with 64-bit
integers. DuckDB replays the identical recurrence as plain SQL
(:mod:`sqltask_spark.queries.cluster`), which converts the whole
k-means family (training loop, IVF cell assignment + probe, SemDeDup
cluster-then-prune) into driver-hash-checked certificates — the same
pattern as ``bpe_learn_certified`` for the BPE training loop.

Determinism contract (mirrored verbatim by the SQL rendering):

- quantization: ``el = floor(x · 2^20)`` as BIGINT (floor, not
  round — no rounding tie rule for engines to disagree on; cf.
  ``label_centroids``);
- init: the K distinct ids with the smallest
  ``(md5(CAST(id AS STRING)), id)`` — an engine-portable
  pseudo-random draw (both engines md5 the same decimal rendering);
  cluster ids 0..K-1 follow that order;
- assignment: argmin over exact BIGINT squared distances, ties to
  the smallest cluster id (ROW_NUMBER semantics);
- update: truncating integer division ``sum div count`` — Spark
  ``div`` and DuckDB ``//`` both truncate toward zero (probed:
  ``-7 div 2 = -3`` on both; pinned in tests/test_kmeans_fixed.py) —
  so the re-quantized centroid is identical however the sum was
  shuffled; empty clusters keep their previous centroid;
- overflow headroom: squared-distance sums need
  ``D · (2 · max|el|)² < 2^63``; at scale 2^20 and unit-ish
  embeddings that is ~2^47 for D=64 — and |el| up to ~2^28 (|x| up
  to 256) stays safe. Per-cluster inertia sums add another factor of
  the cluster size; the BIGINT ceiling allows ~10^5 members/cluster
  at the worst-case bound (far above every deployment's per-CLUSTER
  distance mass in practice because real distances sit orders below
  the bound); deployments past it widen to DECIMAL(38,0).

Scale shape: the assignment join is ``pts × centroids`` on the
dimension index — the centroid side is K·D rows (constant, a few KiB)
so Catalyst broadcasts it and the n·D·K expansion is map-side only
(no shuffle); the update is one ``groupBy(cid, pos)`` with map-side
partial aggregation into K·D groups. Each iteration's centroids are
collected to the driver (bounded K·D rows) and re-created as a
literal DataFrame: that keeps the per-iteration lineage FLAT instead
of growing a 4-iteration nested plan, the standard fix for iterative
DataFrame algorithms (same device as the PageRank loop in
operators/graph.py). At 100 TB you train on a sample (as the
production quantizers do) and broadcast-assign the full corpus —
``assign_cells`` is exactly that broadcast-assign step.

Reference parity note: the reference engine (villebro/sqltask) has no
clustering surface at all — this family belongs to the
training-data-pipeline extension (SemDeDup, IVF ANN, topic cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqltask_spark.data import local_frame

__all__ = [
    "FP_SCALE",
    "to_fixed_long",
    "init_centroids_md5",
    "assign_cells",
    "kmeans_fixed",
    "kmeans_fixed_sparse",
]

#: fixed-point scale shared with label_centroids (2^-20 resolution)
FP_SCALE = 1 << 20


def to_fixed_long(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    scale: int = FP_SCALE,
) -> DataFrame:
    """Long-format fixed-point view: one row per (id, dimension).

    ``el = floor(x · scale)`` — float-to-int ONCE at the boundary;
    everything after is exact integer arithmetic.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "pos", "x"
        ),
    ).select(
        "id",
        "pos",
        F.floor(F.col("x") * F.lit(float(scale))).cast("bigint").alias(
            "el"
        ),
    )


def _seed_ids_topk(pts: DataFrame, k: int) -> DataFrame:
    """The K distinct ids with the smallest ``(md5(id_string), id)``,
    as a lazy DataFrame ``(id, _h)``.

    Spelled ``orderBy(...).limit(k)`` so Catalyst plans it as
    ``TakeOrderedAndProject`` — a per-partition top-k with a driver
    merge of K rows per partition — NEVER a single-partition
    ``WindowExec`` sort of the full distinct-id set (the scale bug
    this replaced: ``row_number().over(Window.orderBy(...))`` with no
    partition spec funnels every distinct id through one task).
    """
    return (
        pts.select("id")
        .distinct()
        .withColumn("_h", F.md5(F.col("id").cast("string")))
        .orderBy("_h", "id")
        .limit(k)
    )


def init_centroids_md5(pts: DataFrame, k: int) -> DataFrame:
    """Deterministic, engine-portable init: the K ids with the
    smallest ``(md5(id_string), id)`` seed clusters 0..K-1.

    The top-k selection runs distributed (``TakeOrderedAndProject``,
    see :func:`_seed_ids_topk`); only the ≤K winners are collected and
    ranked driver-side — the same bounded-collect device as the
    per-round centroid literalization. Selection semantics are
    identical to the previous global row_number spelling, so every
    certificate hash is unchanged.
    """
    spark: SparkSession = pts.sparkSession
    top = _seed_ids_topk(pts, k).collect()
    # TakeOrderedAndProject returns sorted output, but re-sort the ≤K
    # rows driver-side so cid assignment never depends on plan choice
    top.sort(key=lambda r: (r["_h"], r["id"]))
    schema = T.StructType(
        [
            T.StructField("id", pts.schema["id"].dataType),
            T.StructField("cid", T.IntegerType()),
        ]
    )
    chosen = local_frame(
        spark, [(r["id"], i) for i, r in enumerate(top)], schema
    )
    return (
        pts.join(F.broadcast(chosen), "id")
        .select("cid", "pos", F.col("el").alias("c"))
    )


def assign_cells(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: ``(id, cid, dist)`` with exact
    BIGINT squared distance, ties to the smallest cid.

    ``cents`` is K·D rows — Catalyst broadcasts it, so the n·D·K
    expansion never shuffles the corpus side.
    """
    d = F.col("el") - F.col("c")
    dists = (
        pts.join(F.broadcast(cents), "pos")
        .groupBy("id", "cid")
        .agg(F.sum(d * d).alias("dist"))
    )
    # argmin as ONE aggregation: min over struct(dist, cid) compares
    # dist first, ties to the smallest cid — the exact ROW_NUMBER
    # (ORDER BY dist, cid) semantics the oracle replays, without the
    # window's extra shuffle + sort per Lloyd round
    best = dists.groupBy("id").agg(
        F.min(F.struct("dist", "cid")).alias("m")
    )
    return best.select(
        "id", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist")
    )


def _update(pts: DataFrame, assign: DataFrame, cents: DataFrame) -> DataFrame:
    """Centroid update: truncating integer mean per (cid, pos);
    empty clusters keep their previous centroid."""
    upd = (
        pts.join(assign.select("id", "cid"), "id")
        .groupBy("cid", "pos")
        .agg(
            F.expr("sum(el) div count(*)").cast("bigint").alias("c_new")
        )
    )
    return (
        cents.alias("o")
        .join(upd.alias("u"), ["cid", "pos"], "left")
        .select(
            "cid",
            "pos",
            F.coalesce(F.col("u.c_new"), F.col("o.c")).alias("c"),
        )
    )


def kmeans_fixed(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 4,
    scale: int = FP_SCALE,
) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` Lloyd rounds; return ``(assign, centroids)``.

    ``assign``: ``(id, cid, dist)`` under the FINAL centroids.
    ``centroids``: ``(cid, pos, c)`` after the last update.

    Each round's centroid table (K·D rows, bounded) is collected and
    re-literalized so the logical plan stays one-round deep — see
    module docstring. ``pts`` is cached for the ``iters + 1`` passes
    and released before returning.
    """
    spark: SparkSession = df.sparkSession
    pts = to_fixed_long(df, id_col, vec_col, scale).persist()
    cents = init_centroids_md5(pts, k)
    for _ in range(iters):
        assign = assign_cells(pts, cents)
        new_rows = _update(pts, assign, cents).collect()
        cents = local_frame(
            spark, new_rows, "cid int, pos int, c bigint"
        )
    final_assign = assign_cells(pts, cents)
    # materialize the (small) outputs before releasing the cache
    final_assign = final_assign.persist()
    final_assign.count()
    pts.unpersist()
    return final_assign, cents


# --------------------------------------------------------------------------
# Sparse variant: long-format points where an absent (id, pos) row
# means 0 — the natural shape for hashed term-count vectors (most
# dimensions of most documents are zero, so densifying would multiply
# the shuffled rows by the vocabulary-to-document ratio for nothing).
# --------------------------------------------------------------------------


def _assign_sparse(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment over sparse points/centroids.

    With absent = 0 on both sides the exact squared distance
    decomposes into three exact BIGINT pieces:

        dist(id, cid) = Σ el² − 2·Σ_common el·c + Σ c²
                        (per id)  (per id,cid)    (per cid)

    so only the middle term needs the points-×-centroids join (on
    common positions only — the sparse win), and (id, cid) pairs with
    no common position fall back to dsq + c2 via the tiny id × cid
    grid (broadcast cid side).
    """
    dsq = pts.groupBy("id").agg(
        F.sum(F.col("el") * F.col("el")).alias("dsq")
    )
    csq = cents.groupBy("cid").agg(
        F.sum(F.col("c") * F.col("c")).alias("c2")
    )
    cross = (
        pts.join(F.broadcast(cents), "pos")
        .groupBy("id", "cid")
        .agg(F.sum(F.col("el") * F.col("c")).alias("x"))
    )
    grid = dsq.crossJoin(F.broadcast(csq))
    dists = grid.join(cross, ["id", "cid"], "left").select(
        "id",
        "cid",
        (
            F.col("dsq")
            - F.lit(2) * F.coalesce("x", F.lit(0).cast("bigint"))
            + F.col("c2")
        ).alias("dist"),
    )
    # same single-aggregation argmin as assign_cells
    best = dists.groupBy("id").agg(
        F.min(F.struct("dist", "cid")).alias("m")
    )
    return best.select(
        "id", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist")
    )


def _update_sparse(
    pts: DataFrame, assign: DataFrame, cents: DataFrame
) -> DataFrame:
    """Sparse centroid update: truncating integer mean over ALL
    cluster members (absent rows count as 0, so the divisor is the
    member count, not the present-row count); exactly-zero centroid
    components are dropped to keep centroids sparse; empty clusters
    keep their previous centroid.

    A NON-empty cluster whose every component truncates to zero must
    not vanish from the centroid table (k would silently shrink — it
    would drop out of ``csq`` and the assignment grid next round): it
    keeps one ``(cid, pos=0, c=0)`` sentinel row, which is distance-
    neutral (contributes 0 to both ``c²`` and the cross term) but
    keeps the cluster competing for members. Mirrored verbatim by
    ``queries.cluster._sparse_kmeans_ctes``.
    """
    msize = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    upd = (
        pts.join(assign.select("id", "cid"), "id")
        .groupBy("cid", "pos")
        .agg(F.sum("el").alias("s"))
        .join(msize, "cid")
        .select(
            "cid",
            "pos",
            F.expr("s div n").cast("bigint").alias("c"),
        )
        .filter(F.col("c") != 0)
    )
    sentinel = (
        msize.select("cid")
        .join(upd.select("cid").distinct(), "cid", "left_anti")
        .select(
            "cid",
            F.lit(0).cast("int").alias("pos"),
            F.lit(0).cast("bigint").alias("c"),
        )
    )
    kept_old = cents.join(msize.select("cid"), "cid", "left_anti")
    return upd.unionByName(sentinel).unionByName(kept_old)


def kmeans_fixed_sparse(
    pts: DataFrame,
    k: int = 8,
    iters: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd k-means over sparse long-format integer points
    ``(id, pos, el)`` (absent = 0). Same determinism contract and
    per-round centroid literalization as :func:`kmeans_fixed`;
    distances use the sparse three-term decomposition (see
    :func:`_assign_sparse`). Returns ``(assign, centroids)``."""
    spark: SparkSession = pts.sparkSession
    pts = pts.persist()
    cents = init_centroids_md5(pts, k)
    for _ in range(iters):
        assign = _assign_sparse(pts, cents)
        rows = _update_sparse(pts, assign, cents).collect()
        cents = local_frame(
            spark, rows, "cid int, pos int, c bigint"
        )
    final_assign = _assign_sparse(pts, cents).persist()
    final_assign.count()
    pts.unpersist()
    return final_assign, cents
