"""Similarity search over embedding columns (``array<float>``).

North-star extension. Two tiers:

- **brute-force top-k** — exact: broadcast the (small) query set
  against the corpus, score every pair JVM-side, per-query top-k via
  window. Cost O(|queries| · |corpus|) with zero shuffle on the
  corpus side (queries are broadcast); the right baseline and exact
  answer for ≤ thousands of queries.
- **LSH-bucketed top-k** — approximate: random-hyperplane signatures
  (cosine LSH) bucket the corpus; each query only scores candidates
  sharing a bucket in ≥1 of ``tables`` hash tables. Corpus-side cost
  drops to O(n · tables) signature work + a bucket equi-join; the
  scale path when queries × corpus explodes.

Exact scoring math (dot/cosine) is ``zip_with``/``aggregate`` fold
over double-cast elements — sequential, deterministic, JVM-side, so
the DuckDB oracle can reproduce it bit-for-bit. LSH signatures are
the one vectorized-Pandas-UDF path (see :func:`lsh_bucket_udf` for
why); hyperplanes derive from a seeded RNG so results are stable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame


def query_side_schema(q_base: DataFrame, ddl: str):
    """Schema of a driver-built query-side frame: ``query_id`` typed
    as the query frame ``q_base`` types it, then the columns the
    driver computes, declared in ``ddl`` (``"cell bigint"``) — never
    inferred from the Python values."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    return StructType(
        [q_base.schema["query_id"], *_parse_datatype_string(ddl).fields]
    )


def as_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic element order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Null-safe cosine: NULL when either vector has zero norm
    (avoids ANSI divide-by-zero; comparisons/filters drop NULLs)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot(a, b) / denom)


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed per-side L2 norms.

    Bit-identical to :func:`cosine` — ``sqrt(dot(v,v))`` is the same
    double whether computed per pair or once per vector — but the
    per-PAIR work drops from three interpreted HOF folds to one.
    Every scoring operator precomputes norms on each (linear-sized)
    side before the (quadratic-sized) pair set, which is both the
    constant-factor win and the 100 TB shape: norms ride along the
    existing projections, never a separate shuffle.
    """
    denom = na * nb
    return F.when(denom != 0, dot(a, b) / denom)


#: Two-phase brute-force engages only past this many query × corpus
#: pairs: below it the BLAS prefilter's fixed costs (one Arrow pass,
#: one extra corpus-count job) exceed what it saves; above it the
#: interpreted per-pair fold dominates and the prefilter removes
#: ~99% of it (guide §8: decide with a cheap proxy, verify exactly).
BRUTE_PREFILTER_MIN_PAIRS = 4_000_000

#: Conservative score slack for the approximate phase. The numpy
#: float64 matmul and the JVM's sequential fold compute the same
#: mathematical cosine with |Δ| bounded by ~dim·eps ≈ 1e-13 for
#: unit-scale embeddings; any candidate whose EXACT rounded score
#: could reach the top k therefore sits within one 1e-6 rounding
#: quantum (+Δ) of the k-th approximate score. 1e-5 is 100× that
#: bound — it only ever admits a few extra candidates to the exact
#: verify, never drops a true member.
_PREFILTER_MARGIN = 1e-5


def _brute_candidate_pairs(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    q_rows: list,
    k: int,
) -> DataFrame:
    """Provably complete candidate superset of the exact top-k via a
    vectorized approximate pass (guide §8's decide-with-small-rows).

    One ``mapInArrow`` pass over the corpus computes every batch's
    query×corpus cosine block with a BLAS matmul and keeps, per query
    and batch, every candidate within :data:`_PREFILTER_MARGIN` of
    the batch's k-th best approximate score (all of them when the
    batch holds fewer than k). Containment proof: if a candidate c is
    dropped, ≥ k candidates of the same batch beat its approximate
    score by > margin ≥ one rounding quantum + 2·float-error, so
    their EXACT rounded scores strictly beat c's — c cannot be in the
    global top-k. NULL-score pairs (zero-norm on either side, ranked
    NULLS LAST by neighbor id) are preserved by keeping the k
    smallest-id zero-norm candidates per batch. Only (query_id,
    neighbor_id) leave Python — every returned score is computed by
    the exact JVM fold downstream, so results are bit-identical to
    the single-phase plan.
    """
    import numpy as np

    qids = [r[0] for r in q_rows]
    qdim = len(q_rows[0][1])
    q_mat = np.array(
        [[float(x) for x in r[1]] for r in q_rows], dtype=np.float64
    )
    qn = np.linalg.norm(q_mat, axis=1)
    qn_safe = np.where(qn == 0, 1.0, qn)
    q_unit = q_mat / qn_safe[:, None]
    margin = _PREFILTER_MARGIN

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            ids_arr = batch.column(0)
            emb = batch.column(1)
            n = len(ids_arr)
            if n == 0:
                continue
            offsets = np.asarray(emb.offsets)
            widths = np.diff(offsets)
            ids = ids_arr.to_numpy(zero_copy_only=False)
            # a corpus vector whose length differs from the query dim
            # scores NULL under the exact fold (zip_with null-pads) —
            # same NULLS-LAST class as zero-norm; matmul only the
            # matching-width rows
            match = widths == qdim
            if match.all():
                flat = np.asarray(emb.values, dtype=np.float64)
                c_mat = flat[
                    int(offsets[0]) : int(offsets[0]) + n * qdim
                ].reshape(n, qdim)
                m_ids = ids
            else:
                rows = emb.to_pylist()
                m_ids = ids[match]
                c_mat = np.array(
                    [
                        [float(x) for x in rows[i]]
                        for i in range(n)
                        if match[i]
                    ],
                    dtype=np.float64,
                ).reshape(int(match.sum()), qdim)
            cn = np.linalg.norm(c_mat, axis=1)
            cn_safe = np.where(cn == 0, 1.0, cn)
            sims = (c_mat / cn_safe[:, None]) @ q_unit.T  # (m, nq)
            mismatch_ids = ids[~match] if not match.all() else ids[:0]
            out_q, out_n = [], []
            for j, qid in enumerate(qids):
                not_self = m_ids != qid
                if qn[j] == 0:
                    null_ids = m_ids[not_self]
                else:
                    valid = not_self & (cn > 0)
                    null_ids = m_ids[not_self & (cn == 0)]
                    s = sims[valid, j]
                    vid = m_ids[valid]
                    if len(s) > k:
                        kth = np.partition(s, -k)[-k]
                        keep = s >= kth - margin
                        vid = vid[keep]
                    out_q.extend([qid] * len(vid))
                    out_n.extend(vid.tolist())
                if len(mismatch_ids):
                    null_ids = np.concatenate(
                        [null_ids, mismatch_ids[mismatch_ids != qid]]
                    )
                if len(null_ids):
                    null_keep = np.sort(null_ids)[:k]
                    out_q.extend([qid] * len(null_keep))
                    out_n.extend(null_keep.tolist())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q, type=ids_arr.type),
                    pa.array(out_n, type=ids_arr.type),
                ],
                ["query_id", "neighbor_id"],
            )

    id_type = dict(corpus.dtypes)[corpus_id]
    return corpus.select(corpus_id, corpus_vec).mapInArrow(
        gen, f"query_id {id_type}, neighbor_id {id_type}"
    )


def cosine_topk_brute(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    round_digits: int = 6,
    max_driver_queries: int | None = 8192,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Scores are rounded before ranking and tie-broken by corpus id, so
    the result set is fully deterministic and reproducible by any
    engine computing the same double arithmetic.

    Past :data:`BRUTE_PREFILTER_MIN_PAIRS` query×corpus pairs (with a
    query set small enough to collect — the same bound the IVF path
    uses), the all-pairs interpreted fold is replaced by a two-phase
    plan: a vectorized approximate pass selects a provably complete
    candidate superset (:func:`_brute_candidate_pairs`) and ONLY those
    pairs pay the exact JVM fold. Same result set, bit for bit — the
    score every returned row carries is still the sequential-fold
    double the oracle reproduces.
    """
    from sqltask_spark.data import ensure_min_partitions

    q = queries.select(
        F.col(query_id).alias("query_id"),
        as_double_array(F.col(query_vec)).alias("qv"),
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = ensure_min_partitions(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        as_double_array(F.col(corpus_vec)).alias("cv"),
    ).withColumn("cn", l2_norm(F.col("cv")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    q_rows = (
        queries.select(query_id, query_vec)
        .limit(max_driver_queries + 1)
        .collect()
        if max_driver_queries is not None
        else None
    )
    # nq is known cheaply; the corpus count is one metadata-cheap job,
    # paid only when the query side alone clears the bar. Ragged or
    # empty query vectors (every score NULL / caller error) keep the
    # single-phase plan.
    if (
        q_rows is not None
        and 32 <= len(q_rows) <= max_driver_queries
        and len({len(r[1]) for r in q_rows if r[1] is not None}) == 1
        and all(r[1] is not None and len(r[1]) for r in q_rows)
        and len(q_rows) * corpus.count() >= BRUTE_PREFILTER_MIN_PAIRS
    ):
        cand = _brute_candidate_pairs(
            ensure_min_partitions(corpus), corpus_id, corpus_vec,
            q_rows, k,
        )
        scored = (
            c.join(F.broadcast(cand), "neighbor_id")
            .join(F.broadcast(q), "query_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn(
                "score",
                F.round(
                    cosine_prenormed(
                        F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                    ),
                    round_digits,
                ),
            )
            .drop("qv", "cv", "qn", "cn")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "score",
            F.round(
                cosine_prenormed(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ),
                round_digits,
            ),
        )
        .drop("qv", "cv", "qn", "cn")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_near_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: cosine ≥ threshold.

    Exact all-pairs scoring (id_a < id_b once per pair) — the
    definition the DuckDB oracle reproduces. The self cross-join is
    quadratic, so this exact form is for corpora that fit a broadcast
    (≲10^5 vectors) or for verifying candidates; at 100 TB scale
    generate candidates with the LSH bucketing of
    :func:`cosine_topk_lsh` and verify pairs with the same cosine
    expression.
    """
    from sqltask_spark.data import ensure_min_partitions

    a = ensure_min_partitions(df).select(
        F.col(id_col).alias("id_a"),
        as_double_array(F.col(vec_col)).alias("va"),
    ).withColumn("na", l2_norm(F.col("va")))
    b = df.select(
        F.col(id_col).alias("id_b"),
        as_double_array(F.col(vec_col)).alias("vb"),
    ).withColumn("nb", l2_norm(F.col("vb")))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                cosine_prenormed(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                round_digits,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_near_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_blocks: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Exact near-pairs via triangle block partitioning (scale path).

    Same result set as :func:`cosine_near_pairs`, different physical
    plan: each vector lands in one of ``n_blocks`` blocks by uniform
    id hash; every unordered block pair (p ≤ q) becomes one join key,
    and each vector replicates to exactly the keys it participates in
    (JVM-side ``sequence``/``explode`` — no join builds the
    replication). The pair join is then a plain shuffle equi-join on
    (p, q) with B(B+1)/2 independent work units, so exact all-pairs
    scoring spreads across executors instead of requiring a broadcast
    nested loop with one full side resident per executor. Compute
    stays O(n²) — inherent to exact scoring — but shuffle volume is
    O(n · n_blocks) and no single task sees more than ~(2n/B) vectors.
    Choose ``n_blocks`` ≈ sqrt(2 × target parallelism).

    Each unordered pair {x, y} is generated exactly once: same-block
    pairs meet only on the diagonal key (b, b) (dedup by id order);
    cross-block pairs meet only on (min(bx, by), max(bx, by)) with x
    and y on fixed sides.
    """
    scored = _blocked_pair_scores(
        df, id_col, vec_col, n_blocks, round_digits
    )
    return scored.filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", "cosine"
    )


def _blocked_pair_scores(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_blocks: int,
    round_digits: int,
) -> DataFrame:
    """All unordered pairs (id_a < id_b, rounded cosine) via the
    triangle block join — the shared engine of
    :func:`cosine_near_pairs_blocked` and :func:`knn_graph`."""
    e = df.select(
        F.col(id_col).alias("id"),
        as_double_array(F.col(vec_col)).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
        .cast("int")
        .alias("blk"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    a = e.withColumn(
        "q", F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1)))
    ).select(
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        F.col("blk").alias("p"),
        "q",
    )
    b = e.withColumn(
        "p", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).select(
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "p",
        F.col("blk").alias("q"),
    )
    scored = (
        a.join(b, ["p", "q"])
        .filter((F.col("p") != F.col("q")) | (F.col("id_a") < F.col("id_b")))
        .withColumn(
            "cosine",
            F.round(
                cosine_prenormed(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                round_digits,
            ),
        )
    )
    return scored.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "cosine",
    )


def knn_graph(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_blocks: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Exact k-nearest-neighbor graph over the corpus: for EVERY
    vector, its top-``k`` cosine neighbors (the substrate of
    graph-based curation — SemDeDup-style cluster pruning, label
    propagation over neighbors, connectivity-based outlier removal).

    Physical plan: the triangle block join scores each unordered pair
    once (O(n²) compute — inherent to the exact graph — but shuffle
    volume O(n · n_blocks) and no task holds more than ~2n/B vectors),
    then each pair is emitted in both directions and a per-source
    window keeps the top k. The window shuffle carries (src, dst,
    score) triples only — 20 bytes per pair, not vectors. At corpus
    sizes where exact O(n²) is off the table, build the graph from
    IVF cells instead (:func:`cosine_topk_ivf` with the corpus as its
    own query set probing n_probe cells) and accept approximate
    recall; this operator is the exact baseline those variants are
    measured against. Zero-norm vectors score NULL against everything
    and are dropped from the graph.

    Returns (src_id, rank, dst_id, score), rank 1..k by descending
    score with dst tie-break — fully deterministic.
    """
    pairs = _blocked_pair_scores(df, id_col, vec_col, n_blocks, round_digits)
    sym = pairs.select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("dst_id"),
        F.col("cosine").alias("score"),
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("src_id"),
            F.col("id_a").alias("dst_id"),
            F.col("cosine").alias("score"),
        )
    ).filter(F.col("score").isNotNull())
    w = Window.partitionBy("src_id").orderBy(
        F.desc("score"), F.asc("dst_id")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "rank", "dst_id", "score")
    )


def cosine_near_pairs_lsh(
    df: DataFrame,
    id_col: str,
    dim: int,
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 8,
    tables: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate near-pairs: LSH candidates + exact cosine verify.

    The 100 TB shape for high-threshold near-dup detection: candidates
    are pairs sharing a random-hyperplane bucket in ≥1 of ``tables``
    hash tables (one self equi-join on (table, bucket), hot buckets
    capped via :func:`drop_hot_buckets`), then every candidate is
    verified with the exact cosine expression — so precision is exact
    and only recall is approximate (collision probability per table is
    (1 − θ/π)^n_planes; raise ``tables``/lower ``n_planes`` for lower
    thresholds). Returns (id_a, id_b, cosine) with id_a < id_b.
    """
    from sqltask_spark.data import ensure_min_partitions
    from sqltask_spark.operators.bucketing import drop_hot_buckets

    sig_udf = lsh_bucket_udf(dim, n_planes, tables, seed)
    base = ensure_min_partitions(df).select(
        F.col(id_col).alias("id"),
        as_double_array(F.col(vec_col)).alias("v"),
        sig_udf(F.col(vec_col)).alias("sigs"),
    ).withColumn("nrm", l2_norm(F.col("v")))
    buckets = drop_hot_buckets(
        base.select("id", F.posexplode("sigs").alias("t", "bucket")),
        ["t", "bucket"],
        max_bucket_size,
    )
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(va.hint("merge"), "id_a")
        .join(vb.hint("merge"), "id_b")
        .withColumn(
            "cosine",
            F.round(
                cosine_prenormed(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                round_digits,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_near_pairs_lsh_fixed(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 4,
    tables: int = 8,
    seed: int = 101,
    max_bucket_size: int | None = 1000,
    round_digits: int = 6,
    expected_dim: int | None = None,
) -> DataFrame:
    """:func:`cosine_near_pairs_lsh` with engine-portable signatures —
    the ORACLED twin of the random-hyperplane LSH family.

    Two substitutions make every bucket reproducible by an external
    SQL engine while keeping the algorithm shape identical
    (sign-bit signatures → per-table buckets → hot-bucket cap →
    candidate equi-join → exact cosine verify):

    - planes are the seeded Achlioptas ±1 sparse matrix
      (:func:`sparse_projection_matrix` — same family the oracled JL
      projection uses) instead of Gaussian draws;
    - plane dot products run in exact BIGINT micro fixed point
      (``round(v_i·1e6)`` · ±1, summed), so each sign bit — and
      therefore each bucket id — is bit-identical in any engine.

    Sign-recall intuition is unchanged: Achlioptas planes satisfy the
    same random-projection guarantees as Gaussian ones (that is their
    point), so collision probabilities match in expectation. The
    Gaussian/Arrow-UDF form stays the production path — one BLAS
    matmul per batch beats the explode + join when signatures dominate
    — but this twin is itself scale-sane: the explode is
    O(rows · dim), the matrix broadcast is tiny, and the candidate
    join is the same capped bucket join.
    """
    from sqltask_spark.data import ensure_min_partitions
    from sqltask_spark.operators.bucketing import drop_hot_buckets

    spark = df.sparkSession
    first = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    dim = int(first[0]["d"]) if first else 0
    if expected_dim is not None and first and dim != expected_dim:
        # same contract as random_projection: a dim-frozen external
        # oracle must fail loudly on a different data width
        raise ValueError(
            f"embedding dim {dim} != expected {expected_dim}"
        )
    n_sig = tables * n_planes
    triples = sparse_projection_matrix(dim, n_sig, seed)
    mat = local_frame(spark, triples, schema="i int, j int, s long")

    base = ensure_min_partitions(df).select(
        F.col(id_col).alias("id"),
        as_double_array(F.col(vec_col)).alias("v"),
    )
    vq = base.select(
        "id", F.posexplode("v").alias("i", "x")
    ).select(
        "id",
        "i",
        F.round(F.col("x") * F.lit(1_000_000.0)).cast("long").alias("q"),
    )
    # sign bit per plane (exact integer dot), then pack n_planes bits
    # per table — two skinny aggregations, no vector payload shuffled
    bits = (
        vq.join(F.broadcast(mat), "i")
        .groupBy("id", "j")
        .agg(F.sum(F.col("q") * F.col("s")).alias("dot"))
        .select(
            "id",
            F.expr(f"j div {n_planes}").alias("t"),
            F.when(
                F.col("dot") >= 0,
                # shiftleft's python wrapper wants a literal shift;
                # the SQL form takes a column
                F.expr(f"shiftleft(1, j % {n_planes})"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bit"),
        )
    )
    buckets = bits.groupBy("id", "t").agg(F.sum("bit").alias("bucket"))
    capped = drop_hot_buckets(buckets, ["t", "bucket"], max_bucket_size)
    cand = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    prenormed = base.withColumn("nrm", l2_norm(F.col("v")))
    va = prenormed.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = prenormed.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        cand.join(va.hint("merge"), "id_a")
        .join(vb.hint("merge"), "id_b")
        .withColumn(
            "cosine",
            F.round(
                cosine_prenormed(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                round_digits,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def quantize_symmetric(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Per-vector symmetric linear quantization to ``bits``-bit ints.

    The storage-tier op of an embedding pipeline: int8 cuts vector
    bytes 4× (float32) or 8× (float64), which at 100 TB is the
    difference between a corpus that fits the page cache and one that
    doesn't. Per-vector absmax scaling (``scale = max|v| / qmax``)
    needs no global statistics — the op stays a pure projection: no
    shuffle, no sampling pass, repartition-stable, and exactly
    reproducible by any engine (hence the DuckDB oracle).

    Returns (id, scale, qvec: array<int>, recon_err) where
    ``recon_err`` is the L2 distance between the original vector and
    ``qvec · scale`` — the measurable quality cost of the compression.
    Zero vectors quantize to zeros with scale 0.
    """
    qmax = float(2 ** (bits - 1) - 1)
    base = df.select(
        F.col(id_col).alias("id"),
        as_double_array(F.col(vec_col)).alias("v"),
    ).withColumn(
        "scale",
        F.array_max(F.transform("v", F.abs)) / F.lit(qmax),
    )
    scale = F.col("scale")
    q = F.when(
        scale != 0,
        F.transform("v", lambda x: F.round(x / scale, 0).cast("int")),
    ).otherwise(F.transform("v", lambda x: F.lit(0)))
    with_q = base.withColumn("qvec", q)
    diff_sq = F.zip_with(
        "v", "qvec", lambda x, qi: F.pow(x - qi.cast("double") * scale, 2)
    )
    err = F.sqrt(
        F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x)
    )
    return with_q.withColumn("recon_err", err).drop("v")


def sparse_projection_matrix(
    dim: int, out_dim: int, seed: int = 7
) -> list[tuple[int, int, int]]:
    """Achlioptas (2003) sparse random-projection matrix as nonzero
    COO triples ``(i, j, s)`` with ``s ∈ {-1, +1}`` (each w.p. 1/6;
    zero w.p. 2/3). Integer entries are the point: the projection
    becomes an exact BIGINT sum — order-independent, hash-stable, and
    reproducible by any engine — while preserving the
    Johnson–Lindenstrauss distance guarantees of a dense Gaussian
    matrix. Seeded → same matrix on every call/engine."""
    rng = np.random.default_rng(seed)
    draws = rng.integers(0, 6, size=(dim, out_dim))
    out = []
    for i in range(dim):
        for j in range(out_dim):
            if draws[i, j] == 0:
                out.append((i, j, 1))
            elif draws[i, j] == 1:
                out.append((i, j, -1))
    return out


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 7,
    expected_dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction by sparse
    random projection — the pre-ANN compression step: project 64-d
    (or 768-d…) embeddings to ``out_dim`` dims before clustering /
    LSH / IVF training, cutting every downstream shuffle and
    distance computation proportionally.

    Exact fixed-point arithmetic end-to-end: inputs quantize to
    micro-units (``round(v_i · 1e6)`` as BIGINT — float inputs cast
    to double losslessly first), the projection is
    ``Σ_i vq_i · s_ij`` over the ±1 sparse matrix (exact BIGINT,
    |Σ| bounded by dim · max|v| · 1e6 ≪ 2^63), and only the final
    output divides back to a double with the JL scale factor
    ``sqrt(3/out_dim)``. Result is bit-stable under any partitioning
    and carries a DuckDB oracle.

    Long/COO output ``(id, j, value)`` — the joinable, driver-
    hashable shape (cf. :func:`~sqltask_spark.operators.retrieval.
    hashed_tfidf`).

    Scale shape: one corpus pass (posexplode → broadcast-join the
    ~dim·out_dim/3-row matrix → map-side-combined sum). No sampling,
    no training, no Python UDFs.
    """
    import math

    spark = df.sparkSession
    # matrix size depends on the actual vector dim: read it from the
    # first row (a 1-row limit — metadata-cheap)
    first = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    dim = int(first[0]["d"]) if first else 0
    if expected_dim is not None and first and dim != expected_dim:
        # callers that pair this with a dim-frozen external oracle
        # (the catalog entry freezes its matrix at EMBED_DIM) must
        # fail loudly instead of silently projecting with a matrix
        # built for the wrong width
        raise ValueError(
            f"embedding dim {dim} != expected {expected_dim}"
        )
    triples = sparse_projection_matrix(dim, out_dim, seed)
    mat = local_frame(spark, triples, schema="i int, j int, s long")
    scale = math.sqrt(3.0 / out_dim)
    base = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(as_double_array(F.col(vec_col))).alias("i", "v"),
    ).select(
        "id",
        "i",
        F.round(F.col("v") * F.lit(1_000_000.0)).cast("long").alias("vq"),
    )
    return (
        base.join(F.broadcast(mat), "i")
        .groupBy("id", "j")
        .agg(F.sum(F.col("vq") * F.col("s")).alias("m"))
        .select(
            "id",
            "j",
            F.round(
                F.col("m").cast("double")
                * F.lit(scale)
                / F.lit(1_000_000.0),
                6,
            ).alias("value"),
        )
    )


def _plane_matrix(dim: int, n_planes: int, tables: int, seed: int):
    """Seeded Gaussian hyperplanes, (tables · n_planes) × dim."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((tables * n_planes, dim))


def _bucket_matrix(mat, planes, n_planes: int, tables: int):
    """(batch, dim) → (batch, tables) packed sign-bit signatures."""
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    bits = (mat @ planes.T) >= 0
    per_table = bits.reshape(len(mat), tables, n_planes)
    return (per_table * weights).sum(axis=2)


def lsh_bucket_udf(dim: int, n_planes: int, tables: int, seed: int):
    """Arrow-vectorized signature UDF → array<bigint>[tables].

    All hash tables' signatures in one pass: a single numpy matmul of
    the Arrow batch against the (tables·n_planes)×dim plane matrix,
    sign bits packed per table. This is the deliberate Pandas-UDF
    exception to the JVM-first rule — a per-element fold expression
    over dim×planes×tables literals builds a plan tree Catalyst
    chokes on (thousands of literal nodes, minutes of planning) and
    executes interpreted, while BLAS does the whole batch in one
    call.
    """
    from pyspark.sql.functions import pandas_udf

    planes = _plane_matrix(dim, n_planes, tables, seed)

    @pandas_udf("array<long>")
    def buckets(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy())  # (batch, dim)
        sigs = _bucket_matrix(mat, planes, n_planes, tables)
        return pd.Series(list(sigs))

    return buckets


def _spherical_kmeans(sample: np.ndarray, n_cells: int, iters: int):
    """Driver-side spherical k-means (Lloyd) over a bounded sample.

    Deterministic: init takes the first ``n_cells`` sample rows (the
    sample itself is hash-ordered and seeded upstream), each iteration
    assigns by max cosine and recomputes unit-mean centroids; a cell
    that empties keeps its previous centroid. O(sample × n_cells ×
    iters) flops on the driver — microseconds at the default bounds.
    """
    norms = np.linalg.norm(sample, axis=1)
    unit = sample[norms > 0] / norms[norms > 0, None]
    if len(unit) <= n_cells:
        return unit if len(unit) else sample[:n_cells]
    cents = unit[:n_cells].copy()
    for _ in range(iters):
        assign = np.argmax(unit @ cents.T, axis=1)  # (sample,)
        for c in range(n_cells):
            members = unit[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def _centroid_matrix(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    n_cells: int,
    sample_cap: int = 4096,
    kmeans_iters: int = 8,
    seed: int = 42,
):
    """Coarse-quantizer centroids: spherical k-means over a seeded,
    hash-ordered corpus sample.

    The sample is ``ORDER BY xxhash64(id, seed) LIMIT sample_cap`` —
    Spark plans that as ``TakeOrderedAndProject`` (per-partition top-k
    merged on the driver, no global sort shuffle), so the sampling
    step is scale-safe and fully deterministic for a given corpus.
    The bounded collect has the same memory budget as a broadcast-join
    build side. Lloyd runs driver-side on the sample (see
    :func:`_spherical_kmeans`).
    """
    sample = _sample_matrix(corpus, corpus_id, vec_col, sample_cap, seed)
    return _spherical_kmeans(sample, n_cells, kmeans_iters)


def _sample_matrix(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    sample_cap: int = 4096,
    seed: int = 42,
) -> np.ndarray:
    """Seeded hash-ordered bounded corpus sample as a numpy matrix
    (the shared training input of the coarse quantizer and the PQ
    codebooks — one ``TakeOrderedAndProject``, one bounded collect)."""
    rows = (
        corpus.select(F.col(corpus_id).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(
            F.xxhash64(F.col("id").cast("string"), F.lit(seed)), F.col("id")
        )
        .limit(sample_cap)
        .collect()
    )
    return np.array([list(r["v"]) for r in rows], dtype=np.float64)


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """Rows normalized to unit length (zero rows pass through)."""
    n = np.linalg.norm(mat, axis=1)
    n[n == 0] = 1.0
    return mat / n[:, None]


def _cell_assign_udf(centroids, n_probe: int):
    """Vectorized nearest-centroid assignment → array<int> of the
    ``n_probe`` closest cells by cosine (normalized matmul argsort).

    The assignment arithmetic (norm guard, matmul against unit
    centroids, argsort of the negated sims) is duplicated TEXTUALLY in
    :func:`_cell_candidate_pairs` — identical float ops on identical
    doubles give identical argsorts, which is what keeps the Arrow
    prefilter's cells bit-equal to this UDF's. Both closures stay
    self-contained (no module-global references) so workers never need
    a ``sqltask_spark`` import."""
    from pyspark.sql.functions import pandas_udf

    norms = np.linalg.norm(centroids, axis=1)
    norms[norms == 0] = 1.0
    unit = centroids / norms[:, None]

    @pandas_udf("array<int>")
    def cells(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        vn = np.linalg.norm(mat, axis=1)
        vn[vn == 0] = 1.0
        sims = (mat / vn[:, None]) @ unit.T  # (batch, n_cells)
        order = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    # the assignment IS deterministic; the marker only stops the
    # optimizer's filter-pushdown from DUPLICATING the evaluation
    # (guide §4.4): a downstream join on the cell column pushes an
    # isnotnull(cell) filter below the projection and re-evaluates
    # the UDF over the whole corpus — observed as two ArrowEvalPython
    # nodes over the same scan in cosine_topk_ivf's plan
    return cells.asNondeterministic()


def _cell_candidate_pairs(
    ci: DataFrame,
    id_col: str,
    vec_col: str,
    q_rows: list,
    probe_cells,
    k: int,
    cell_col: str | None = None,
    centroids=None,
) -> DataFrame:
    """IVF analog of :func:`_brute_candidate_pairs`: a provably
    complete candidate superset of the per-query exact top-k over the
    PROBED CELLS only. One ``mapInArrow`` pass over the corpus/index
    relation computes each batch's query×row cosine block with a BLAS
    matmul, masks each query's column to its probed cells, and keeps
    per (batch, query) everything within :data:`_PREFILTER_MARGIN` of
    the batch's k-th best approximate score — the same containment
    proof as the brute path, applied within the probed-cell candidate
    set the exact plan scores. Zero-norm rows in a probed cell (exact
    score NULL, ranked NULLS LAST by id) keep their k smallest ids
    per batch.

    ``cell_col`` names a stored cell column (prebuilt index);
    ``centroids`` instead assigns cells in-pass via
    :func:`_assign_cells_np` — the same doubles, argsort and tie
    behavior as :func:`_cell_assign_udf`, so the masked candidate set
    equals the exact plan's cell equi-join. ``probe_cells`` is the
    per-query array of probed cell ids, aligned with ``q_rows``.
    """
    qids = [r[0] for r in q_rows]
    q_mat = np.array(
        [[float(x) for x in r[1]] for r in q_rows], dtype=np.float64
    )
    qn = np.linalg.norm(q_mat, axis=1)
    qn_safe = np.where(qn == 0, 1.0, qn)
    q_unit = q_mat / qn_safe[:, None]
    n_cells = 1 + max(
        (int(c) for row in probe_cells for c in row), default=0
    )
    probe_mask = np.zeros((len(qids), n_cells), dtype=bool)
    for j, row in enumerate(probe_cells):
        for c in row:
            probe_mask[j, int(c)] = True
    unit_cents = (
        _unit_rows(np.asarray(centroids, dtype=np.float64))
        if centroids is not None
        else None
    )
    margin = _PREFILTER_MARGIN

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            ids_arr = batch.column(0)
            n = len(ids_arr)
            if n == 0:
                continue
            emb = batch.column(1)
            # np.stack raises on ragged input exactly like the
            # pandas-UDF assignment path; prebuilt indexes are
            # uniform-width by construction
            offsets = np.asarray(emb.offsets)
            widths = np.diff(offsets)
            if (widths == widths[0]).all() and widths[0]:
                dim = int(widths[0])
                flat = np.asarray(emb.values, dtype=np.float64)
                c_mat = flat[
                    int(offsets[0]) : int(offsets[0]) + n * dim
                ].reshape(n, dim)
            else:
                c_mat = np.stack(
                    [np.asarray(r, dtype=np.float64) for r in emb.to_pylist()]
                )
            ids = ids_arr.to_numpy(zero_copy_only=False)
            if unit_cents is not None:
                # inlined _assign_cells_np(c_mat, unit_cents, 1) — the
                # closure must stay self-contained (pickled by value)
                # so workers need no sqltask_spark import; keep these
                # lines textually identical to _assign_cells_np
                vn = np.linalg.norm(c_mat, axis=1)
                vn[vn == 0] = 1.0
                sims_c = (c_mat / vn[:, None]) @ unit_cents.T
                cells = np.argsort(-sims_c, axis=1)[:, :1].astype(
                    np.int32
                )[:, 0]
            else:
                cells = batch.column(2).to_numpy(zero_copy_only=False)
            cn = np.linalg.norm(c_mat, axis=1)
            cn_safe = np.where(cn == 0, 1.0, cn)
            sims = (c_mat / cn_safe[:, None]) @ q_unit.T  # (n, nq)
            in_range = cells < n_cells
            out_q, out_n = [], []
            for j, qid in enumerate(qids):
                probed = in_range & probe_mask[j, np.clip(cells, 0, n_cells - 1)]
                base = probed & (ids != qid)
                if qn[j] == 0:
                    null_ids = ids[base]
                else:
                    valid = base & (cn > 0)
                    null_ids = ids[base & (cn == 0)]
                    s = sims[valid, j]
                    vid = ids[valid]
                    if len(s) > k:
                        kth = np.partition(s, -k)[-k]
                        vid = vid[s >= kth - margin]
                    out_q.extend([qid] * len(vid))
                    out_n.extend(vid.tolist())
                if len(null_ids):
                    null_keep = np.sort(null_ids)[:k]
                    out_q.extend([qid] * len(null_keep))
                    out_n.extend(null_keep.tolist())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q, type=ids_arr.type),
                    pa.array(out_n, type=ids_arr.type),
                ],
                ["query_id", "neighbor_id"],
            )

    cols = [id_col, vec_col] + ([cell_col] if cell_col else [])
    id_type = dict(ci.dtypes)[id_col]
    return (
        ci.select(*cols)
        .mapInArrow(gen, f"query_id {id_type}, neighbor_id {id_type}")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def _salted_cell_join(
    ci: DataFrame, probes_df: DataFrame, n_cells: int
) -> DataFrame:
    """Corpus-cells ⋈ probe-cells equi-join for the LARGE-batch query
    path, where the probe relation is not broadcast.

    ``cell`` has only ``n_cells`` distinct values, so a plain shuffle
    join hashes the entire corpus × probe workload onto ``n_cells``
    reducer keys — heavy skew whenever n_cells < shuffle parallelism
    (AQE's skew splitting targets oversized partitions by bytes and
    is not guaranteed to fire on this byte-small/compute-heavy
    shape). Deterministic salting: the corpus side derives
    ``salt = pmod(xxhash64(neighbor_id), S)``, the probe side is
    replicated across all S salts, and the join runs on
    ``(cell, salt)`` — key cardinality becomes ``n_cells × S ≈
    shuffle partitions`` so every core participates. S is bounded to
    what parallelism needs (ceil(shuffle_partitions / n_cells)), so
    probe-side replication never exceeds S×. No RNG: same inputs →
    same plan → same result, per the engine-wide determinism rule.
    """
    spark = ci.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    n_salt = max(1, -(-n_part // max(1, n_cells)))
    if n_salt == 1:
        return ci.join(probes_df, "cell")
    salted_ci = ci.withColumn(
        "_salt", F.pmod(F.xxhash64("neighbor_id"), F.lit(n_salt))
    )
    salted_probes = probes_df.withColumn(
        "_salt",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"), F.lit(n_salt - 1).cast("long")
            )
        ),
    )
    return salted_ci.join(salted_probes, ["cell", "_salt"]).drop("_salt")


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_cells: int | None = 32,
    n_probe: int = 4,
    round_digits: int = 6,
    quantize_bits: int | None = None,
    max_driver_queries: int | None = 8192,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning.

    Coarse quantizer assigns every corpus vector to its nearest
    centroid cell (1 cell per vector → the corpus is partitioned, not
    duplicated — cheaper than LSH's ×tables explode); each query
    probes its ``n_probe`` nearest cells and scores only those cells'
    vectors. Recall/cost is tuned by n_probe/n_cells. At scale the
    cell id doubles as a physical partitioning key, so a probe reads
    only the probed cells' files.

    ``n_cells=None`` auto-scales the cell count as ~√n (the classical
    IVF sizing, balancing probe cost n_probe·n/n_cells against the
    centroid scan n_cells) — a FIXED cell count lets per-cell
    occupancy, and so per-probe cost, grow linearly with the corpus
    (the occupancy lesson — NOTES_r3).

    ``quantize_bits=8`` turns this into IVF-SQ8: the corpus side
    carries absmax-quantized ``array<byte>`` codes instead of
    ``array<double>`` — 8× fewer vector bytes through every
    shuffle/cache/scan, the storage layout a 100 TB index actually
    uses. Scoring exploits that cosine is scale-invariant: the
    per-vector dequantization scale cancels, so candidates are ranked
    by ``cos(qv, int_codes)`` directly — one fold per pair over byte
    values, no dequantized array ever materialized. Adds bounded
    quantization noise to scores (ranking, not magnitude, is the
    contract here — hence this mode is recall-tested, not
    oracle-hashed).
    """
    if n_cells is None:
        n = corpus.count()
        n_cells = max(2, min(int(round(n ** 0.5)), 1024))
    cents = _centroid_matrix(corpus, corpus_id, corpus_vec, n_cells)
    from sqltask_spark.data import ensure_min_partitions

    spark = corpus.sparkSession
    if quantize_bits is not None:
        qmax = float(2 ** (quantize_bits - 1) - 1)
        v = as_double_array(F.col(corpus_vec))
        base = ensure_min_partitions(corpus).select(
            F.col(corpus_id).alias("neighbor_id"),
            v.alias("v"),
            _cell_assign_udf(cents, 1)(F.col(corpus_vec))[0].alias("cell"),
        ).withColumn(
            "q_scale", F.array_max(F.transform("v", F.abs)) / F.lit(qmax)
        )
        scale = F.col("q_scale")
        codes = F.when(
            scale != 0,
            F.transform(
                "v", lambda x: F.round(x / scale, 0).cast("byte")
            ),
        ).otherwise(F.transform("v", lambda x: F.lit(0).cast("byte")))
        ci = (
            base.withColumn("cv", codes)
            .withColumn(
                "cn",
                F.sqrt(
                    F.aggregate(
                        F.transform(
                            "cv",
                            lambda b: (
                                b.cast("double") * b.cast("double")
                            ),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
            )
            .drop("v", "q_scale")
        )
    else:
        ci = ensure_min_partitions(corpus).select(
            F.col(corpus_id).alias("neighbor_id"),
            as_double_array(F.col(corpus_vec)).alias("cv"),
            _cell_assign_udf(cents, 1)(F.col(corpus_vec))[0].alias("cell"),
        ).withColumn("cn", l2_norm(F.col("cv")))
    # Dual query path (cf. bm25_search): typical query sets are
    # broadcast-small → collect and assign probe cells driver-side
    # (one less Python-worker stage). Past ``max_driver_queries`` the
    # collect itself is the bottleneck/OOM, so the SAME numpy
    # assignment runs as a vectorized UDF over the query frame and
    # the joins drop their broadcast hints (size-based planning
    # decides) — no driver materialization of the query set.
    q_base = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv")
    )
    q_rows = (
        q_base.limit(max_driver_queries + 1).collect()
        if max_driver_queries is not None
        else None
    )
    if q_rows is not None and len(q_rows) <= max_driver_queries:
        q_mat = np.array([list(r["qv"]) for r in q_rows], dtype=np.float64)
        qn = np.linalg.norm(q_mat, axis=1)
        qn[qn == 0] = 1.0
        cn = np.linalg.norm(cents, axis=1)
        cn[cn == 0] = 1.0
        sims = (q_mat / qn[:, None]) @ (cents / cn[:, None]).T
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        probes_df = F.broadcast(
            local_frame(
                spark,
                [
                    (r["query_id"], int(order[i, j]))
                    for i, r in enumerate(q_rows)
                    for j in range(order.shape[1])
                ],
                query_side_schema(q_base, "cell bigint"),
            )
        )
        qvecs_df = F.broadcast(
            local_frame(
                spark,
                [
                    (r["query_id"], [float(x) for x in r["qv"]])
                    for r in q_rows
                ],
                query_side_schema(q_base, "qv array<double>"),
            ).withColumn("qn", l2_norm(F.col("qv")))
        )
        assigned = None
        joined = ci.join(probes_df, "cell")
        # two-phase scoring past the pair bar (cf. cosine_topk_brute):
        # a BLAS pass masked to each query's probed cells selects the
        # provably complete candidate superset; the exact fold then
        # runs on survivors only, over the SAME probed-cell join, so
        # results — duplicate ids and NULL classes included — are
        # bit-identical
        if (
            quantize_bits is None
            and len(q_rows) >= 32
            and all(
                r["qv"] is not None and len(r["qv"]) == len(q_rows[0]["qv"])
                for r in q_rows
            )
            and len(q_rows[0]["qv"])
            and (len(q_rows) * n_probe * corpus.count()) // max(1, n_cells)
            >= BRUTE_PREFILTER_MIN_PAIRS
        ):
            cand = _cell_candidate_pairs(
                ensure_min_partitions(corpus).select(
                    F.col(corpus_id).alias("neighbor_id"),
                    F.col(corpus_vec).alias("v"),
                ),
                "neighbor_id",
                "v",
                [(r["query_id"], r["qv"]) for r in q_rows],
                order,
                k,
                centroids=cents,
            )
            # one broadcast of the (small) survivor pair set; both
            # joins fuse in codegen, so non-survivor rows cost a hash
            # probe each and never materialize their vector payload
            joined = ci.join(probes_df, "cell").join(
                F.broadcast(cand), ["query_id", "neighbor_id"]
            )
    else:
        # persist: the Arrow-batched assignment UDF feeds BOTH the
        # probe relation and the query-vector relation — without the
        # persist it runs twice per query row (advisor finding r4)
        assigned = q_base.select(
            "query_id",
            as_double_array(F.col("qv")).alias("qv"),
            _cell_assign_udf(cents, n_probe)(F.col("qv")).alias("cells"),
        ).persist()
        probes_df = assigned.select(
            "query_id", F.explode("cells").alias("cell")
        )
        qvecs_df = assigned.select("query_id", "qv").withColumn(
            "qn", l2_norm(F.col("qv"))
        )
        joined = _salted_cell_join(ci, probes_df, n_cells)
    scored = (
        joined
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(qvecs_df, "query_id")
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
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    if assigned is not None:
        from sqltask_spark.data import materialize_and_release

        return materialize_and_release(out, assigned)
    return out


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    dim: int,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_planes: int = 12,
    tables: int = 4,
    seed: int = 42,
    round_digits: int = 6,
    probe_hamming: int = 1,
    max_bucket_size: int | None = 1000,
    max_driver_queries: int | None = 8192,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in ≥1 table.

    Recall improves with ``tables``; cost is one equi-join per table
    (unioned, deduped) instead of the full cross product.

    ``probe_hamming=1`` enables multi-probe: each query additionally
    probes every bucket one sign-bit flip away. Because the probe
    expansion happens on the (small, broadcast) query side it is
    nearly free, while per-table collision probability rises from
    ``p^b`` to ``p^b + b·p^(b-1)(1-p)`` — the standard way to reach
    high recall without multiplying hash tables.

    Shape: the corpus side computes all hash tables' signatures in one
    vectorized UDF pass; a query side up to ``max_driver_queries``
    rows is collected and signed driver-side (same memory budget as
    the broadcast it feeds, one less Python-worker stage), while
    larger batches are signed distributed by the same UDF with no
    driver collect (``max_driver_queries=None`` forces this path);
    then ONE equi-join on (table, bucket) generates candidates — not
    a join per table — so the corpus shuffles/broadcast-probes once.

    Hot buckets are handled on the PROBE side: bucket sizes come from
    a map-side-combined count over the persisted skinny bucket
    relation (≤ tables·2^n_planes groups — broadcast-small by
    construction), and probes into buckets above ``max_bucket_size``
    are dropped before they ever meet the corpus. Versus windowing
    the corpus relation, this moves no corpus rows at all for the
    cap. Candidate dedup (a pair sharing >1 table) folds into the
    scoring stage as a row_number over (query, neighbor) — it reuses
    the scoring exchange instead of paying its own shuffle.
    """
    from sqltask_spark.data import ensure_min_partitions, materialize_and_release

    spark = corpus.sparkSession
    sig_udf = lsh_bucket_udf(dim, n_planes, tables, seed)

    # Skinny bucket relation: (id, table, bucket) only — ~24-byte rows
    # instead of dim-double arrays. Persisted because both the bucket
    # census and the candidate join consume it; one signature pass,
    # not two.
    ci = ensure_min_partitions(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.posexplode(sig_udf(F.col(corpus_vec))).alias("t", "bucket"),
    ).persist()

    # Dual query path (cf. bm25_search / cosine_topk_ivf): collect +
    # sign driver-side while the query set is broadcast-small; past
    # ``max_driver_queries``, sign the query frame with the SAME
    # vectorized signature UDF the corpus uses and expand multi-probe
    # flips JVM-side — no driver materialization of the query set.
    flips = [0] + (
        [1 << i for i in range(n_planes)] if probe_hamming >= 1 else []
    )
    q_base = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv")
    )
    q_rows = (
        q_base.limit(max_driver_queries + 1).collect()
        if max_driver_queries is not None
        else None
    )
    if q_rows is not None and len(q_rows) <= max_driver_queries:
        q_mat = np.array([list(r["qv"]) for r in q_rows], dtype=np.float64)
        sigs = _bucket_matrix(
            q_mat,
            _plane_matrix(dim, n_planes, tables, seed),
            n_planes,
            tables,
        )
        probe_rows = [
            (r["query_id"], t, int(sigs[i, t]) ^ flip)
            for i, r in enumerate(q_rows)
            for t in range(tables)
            for flip in flips
        ]
        # query_id typed by the query frame, so non-long id types
        # keep working
        probes_df = local_frame(
            spark,
            probe_rows,
            query_side_schema(q_base, "t bigint, bucket bigint"),
        )
        qvecs_df = local_frame(
            spark,
            [(r["query_id"], [float(x) for x in r["qv"]]) for r in q_rows],
            query_side_schema(q_base, "qv array<double>"),
        )
        broadcast_q = True
    else:
        signed = q_base.select(
            "query_id",
            as_double_array(F.col("qv")).alias("qv"),
            F.posexplode(sig_udf(F.col("qv"))).alias("t", "sig"),
        )
        probes_df = signed.select(
            "query_id",
            "t",
            F.explode(F.array(*[F.lit(f) for f in flips])).alias("flip"),
            "sig",
        ).select(
            "query_id", "t", F.col("sig").bitwiseXOR(F.col("flip")).alias(
                "bucket"
            )
        )
        qvecs_df = q_base.select(
            "query_id", as_double_array(F.col("qv")).alias("qv")
        )
        broadcast_q = False
    if max_bucket_size is not None:
        # Probe-side hot-bucket cap: a boilerplate-heavy corpus
        # collapses into a few signatures; a hot (table, bucket) key
        # would skew the candidate join. Dropping the PROBE (instead
        # of the corpus rows) costs one tiny join — the census has at
        # most tables·2^n_planes groups and arrives map-side combined.
        # Capped buckets' members stay reachable via their other
        # tables, same as the corpus-side formulation.
        census = ci.groupBy("t", "bucket").agg(
            F.count(F.lit(1)).alias("bucket_sz")
        )
        probes_df = (
            probes_df.join(census, ["t", "bucket"])
            .filter(F.col("bucket_sz") <= max_bucket_size)
            .drop("bucket_sz")
        )
    if broadcast_q:
        probes_df = F.broadcast(probes_df)
    cand = (
        ci.join(probes_df, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    # Vector join deferred to here: candidates are bounded by
    # |probes| × bucket cap — orders of magnitude below corpus ×
    # tables — so AQE typically broadcasts them against the corpus
    # scan and the corpus vectors never shuffle.
    cvecs = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        as_double_array(F.col(corpus_vec)).alias("cv"),
    ).withColumn("cn", l2_norm(F.col("cv")))
    qvecs_df = qvecs_df.withColumn("qn", l2_norm(F.col("qv")))
    if broadcast_q:
        qvecs_df = F.broadcast(qvecs_df)
    # Explicit hash repartition on query_id before scoring: the
    # candidate set is BYTE-small but COMPUTE-heavy (one interpreted
    # HOF fold per row), so AQE — which targets bytes — would coalesce
    # it to one or two partitions and serialize the scoring. The
    # repartition also pre-satisfies the top-k window's
    # hashpartitioning(query_id) requirement, so the window adds only
    # a local sort, no extra exchange.
    n_part = int(
        corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    scored = (
        cand.join(cvecs, "neighbor_id")
        .join(qvecs_df, "query_id")
        .repartition(n_part, "query_id")
        .withColumn(
            "score",
            F.round(
                cosine_prenormed(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ),
                round_digits,
            ),
        )
        .drop("qv", "cv", "qn", "cn")
    )
    # Dedup multi-table collisions in the same exchange as the top-k
    # rank: hashpartitioning(query_id) satisfies both windows'
    # clustering, so this is two local sorts, zero extra shuffles.
    w_dup = Window.partitionBy("query_id", "neighbor_id").orderBy("score")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    out = (
        scored.withColumn("dup_rn", F.row_number().over(w_dup))
        .filter(F.col("dup_rn") == 1)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("dup_rn")
    )
    return materialize_and_release(out, ci)


def semdedup_prune(
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int | None = None,
    target_occupancy: int = 256,
    sample_cap: int = 4096,
    kmeans_iters: int = 8,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Semantic dedup: cluster-then-prune over an embedding column
    (the SemDeDup recipe, Abbas et al. 2023, arXiv:2303.09540).

    Embeddings are assigned to their nearest spherical-k-means cell
    (same coarse quantizer as :func:`cosine_topk_ivf` — bounded
    sample, deterministic init), then near-duplicate pairs are scored
    ONLY within a cell and the higher id of each pair ≥ ``threshold``
    is dropped (keep-lowest-id — the engine-wide survivor convention,
    cf. :func:`sqltask_spark.operators.dedup.exact_dedup`; the paper
    keeps the member farthest from the centroid, an arbitrary choice
    its authors report performs like random).

    Scale shape: the quadratic is confined to cells — pair work is
    O(n · occupancy) where occupancy = n / n_cells, so a FIXED cell
    count silently degrades quadratically as the corpus grows (the
    same occupancy lesson as LSH bucket counts — NOTES_r3). By
    default ``n_cells`` therefore scales with the corpus: one cheap
    ``count()`` sizes cells to ``target_occupancy`` vectors each,
    making pair work O(n · target_occupancy) at ANY corpus size.
    Pass ``n_cells`` explicitly to pin it (tests, known corpora).
    Like any clustered prune, cross-cell near-dups on a cell boundary
    are missed — the recall/cost trade the paper makes; more cells =
    cheaper and slightly lower recall.
    Returns kept rows (id, cell), ordered by id.
    """
    from sqltask_spark.data import materialize_and_release

    if n_cells is None:
        n = corpus.count()
        # ≥2 cells once auto; cap: k-means needs several sample rows
        # per centroid to say anything
        n_cells = max(2, min(n // target_occupancy + 1, sample_cap // 4))
    cents = _centroid_matrix(
        corpus, id_col, vec_col, n_cells, sample_cap, kmeans_iters, seed
    )
    assign = _cell_assign_udf(cents, 1)
    base = (
        corpus.select(
            F.col(id_col).alias("id"),
            as_double_array(F.col(vec_col)).alias("v"),
        )
        .withColumn("cell", assign(F.col("v"))[0])
        .withColumn("nrm", l2_norm(F.col("v")))
        .persist()
    )
    a = base.select(
        "cell",
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        "cell",
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                cosine_prenormed(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                round_digits,
            )
            >= threshold
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    kept = (
        base.join(dropped, "id", "left_anti")
        .select("id", "cell")
        .orderBy("id")
    )
    return materialize_and_release(kept, base)


# --------------------------------------------------------------------------
# IVF-PQ: product quantization over the IVF cells
# --------------------------------------------------------------------------

def _kmeans_euclid(sample: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Driver-side Euclidean k-means (Lloyd) for PQ sub-codebooks.
    Deterministic: first-k init over the hash-ordered sample, mean
    recompute, empty cells keep their previous centroid."""
    if len(sample) <= k:
        pad = np.zeros((k, sample.shape[1]), dtype=np.float64)
        pad[: len(sample)] = sample
        return pad
    cents = sample[:k].copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for c in range(k):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _pq_encode_udf(centroids: np.ndarray, codebooks: list[np.ndarray]):
    """Vectorized IVF cell + PQ code assignment in ONE Arrow-batched
    stage: unit-normalize the batch, nearest coarse centroid by
    cosine, then per-subspace nearest sub-codeword by Euclidean
    distance → struct<cell int, codes array<tinyint>>."""
    from pyspark.sql.functions import pandas_udf

    cn = np.linalg.norm(centroids, axis=1)
    cn[cn == 0] = 1.0
    unit_cents = centroids / cn[:, None]
    subdim = codebooks[0].shape[1]

    @pandas_udf("cell int, codes array<tinyint>")
    def encode(emb: pd.Series) -> pd.DataFrame:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        vn = np.linalg.norm(mat, axis=1)
        vn[vn == 0] = 1.0
        unit = mat / vn[:, None]
        cells = np.argmax(unit @ unit_cents.T, axis=1).astype(np.int32)
        codes = np.empty((len(unit), len(codebooks)), dtype=np.int8)
        for j, cb in enumerate(codebooks):
            sub = unit[:, j * subdim : (j + 1) * subdim]
            # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
            d = (cb**2).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
            codes[:, j] = np.argmin(d, axis=1).astype(np.int8)
        return pd.DataFrame({"cell": cells, "codes": list(codes)})

    # deterministic; marker prevents filter-pushdown duplication of
    # the evaluation (guide §4.4) — see _cell_assign_udf
    # deterministic; marker prevents filter-pushdown duplication of
    # the evaluation (guide §4.4) — see _cell_assign_udf
    return encode.asNondeterministic()


def _pq_query_udf(
    centroids: np.ndarray,
    codebooks: list[np.ndarray],
    n_probe: int,
):
    """Vectorized query-side IVF-PQ prep for the large-batch path:
    probe cells (argsort by cosine against the coarse centroids —
    bit-identical to the driver-side assignment) plus the ADC lookup
    table (normalized sub-vector · sub-codeword dot products,
    row-major by subspace) in ONE Arrow-batched stage →
    struct<cells array<int>, lut array<double>>."""
    from pyspark.sql.functions import pandas_udf

    cn = np.linalg.norm(centroids, axis=1)
    cn[cn == 0] = 1.0
    unit_cents = centroids / cn[:, None]
    subdim = codebooks[0].shape[1]

    @pandas_udf("cells array<int>, lut array<double>")
    def prep(emb: pd.Series) -> pd.DataFrame:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        vn = np.linalg.norm(mat, axis=1)
        vn[vn == 0] = 1.0
        unit = mat / vn[:, None]
        sims = unit @ unit_cents.T
        order = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        luts = np.concatenate(
            [
                unit[:, j * subdim : (j + 1) * subdim] @ cb.T
                for j, cb in enumerate(codebooks)
            ],
            axis=1,
        )
        return pd.DataFrame({"cells": list(order), "lut": list(luts)})

    return prep


def cosine_topk_ivf_pq(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_cells: int | None = 32,
    n_probe: int = 8,
    m: int = 8,
    pq_k: int = 16,
    refine_factor: int = 8,
    round_digits: int = 6,
    sample_cap: int = 4096,
    max_driver_queries: int | None = 8192,
) -> DataFrame:
    """Approximate top-k via IVF + Product Quantization (Jégou et al.
    2011) with exact re-ranking — the memory layout billion-vector
    indexes actually run.

    The corpus is stored as ``m`` sub-codebook ids (one BYTE per
    subspace: 8 bytes/vector here vs 512 for raw doubles, 64 for SQ8)
    plus an int cell id. Candidate scoring is asymmetric distance
    computation: each query precomputes a lookup table of its
    normalized sub-vectors' dot products with every sub-codeword
    (``m × pq_k`` doubles — built driver-side for query sets up to
    ``max_driver_queries``, by an Arrow-batched UDF with no driver
    collect beyond that), and a candidate's approximate cosine is
    ``m`` JVM
    array lookups + adds — no per-pair multiply over the original
    dimension at all. The ADC top ``refine_factor × k`` then joins
    back to the exact vectors by id (an equi-join on a candidate set
    ~refine·k·|Q| rows, not the corpus) and the final top-k ranks by
    EXACT rounded cosine, so ranking quality degrades only when PQ
    pushes a true neighbor out of the refine pool — the standard
    recall-vs-memory trade of a production IVF-PQ index.

    Scale shape: both quantizers train on one bounded hash-ordered
    sample; the corpus pass is one Arrow-batched encode stage; every
    shuffle on the candidate path carries (ids, 8-byte codes); the
    refine join is an equi-join on ``neighbor_id``. ``n_cells=None``
    auto-scales √n like :func:`cosine_topk_ivf`.

    Rows-only by design (sampled k-means codebooks are seed/engine
    specific); recall-vs-brute is pytest-asserted.
    """
    from sqltask_spark.data import ensure_min_partitions

    spark = corpus.sparkSession
    if n_cells is None:
        n = corpus.count()
        n_cells = max(2, min(int(round(n**0.5)), 1024))
    sample = _sample_matrix(corpus, corpus_id, corpus_vec, sample_cap)
    cents = _spherical_kmeans(sample, n_cells, 8)
    norms = np.linalg.norm(sample, axis=1)
    unit = sample[norms > 0] / norms[norms > 0, None]
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    subdim = dim // m
    codebooks = [
        _kmeans_euclid(unit[:, j * subdim : (j + 1) * subdim], pq_k, 8)
        for j in range(m)
    ]

    encode = _pq_encode_udf(cents, codebooks)
    ci = (
        ensure_min_partitions(corpus)
        .select(
            F.col(corpus_id).alias("neighbor_id"),
            encode(F.col(corpus_vec)).alias("e"),
        )
        .select("neighbor_id", "e.cell", "e.codes")
    )

    # Dual query path (cf. cosine_topk_ivf): probes + ADC lookup
    # tables driver-side while the query set is broadcast-small; past
    # ``max_driver_queries`` the same math runs as ONE Arrow-batched
    # UDF over the query frame and the joins drop their broadcast
    # hints — no driver materialization of the query set.
    q_base = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("qv")
    )
    q_rows = (
        q_base.limit(max_driver_queries + 1).collect()
        if max_driver_queries is not None
        else None
    )
    if q_rows is not None and len(q_rows) <= max_driver_queries:
        q_mat = np.array([list(r["qv"]) for r in q_rows], dtype=np.float64)
        qn = np.linalg.norm(q_mat, axis=1)
        qn_safe = np.where(qn == 0, 1.0, qn)
        q_unit = q_mat / qn_safe[:, None]
        ccn = np.linalg.norm(cents, axis=1)
        ccn[ccn == 0] = 1.0
        sims = q_unit @ (cents / ccn[:, None]).T
        order = np.argsort(-sims, axis=1)[:, :n_probe]
        probes_df = F.broadcast(
            local_frame(
                spark,
                [
                    (r["query_id"], int(order[i, j]))
                    for i, r in enumerate(q_rows)
                    for j in range(order.shape[1])
                ],
                query_side_schema(q_base, "cell bigint"),
            )
        )
        luts = np.concatenate(
            [q_unit[:, j * subdim : (j + 1) * subdim] @ codebooks[j].T
             for j in range(m)],
            axis=1,
        )  # (n_queries, m * pq_k), row-major by subspace
        qlut_df = local_frame(
            spark,
            [
                (
                    r["query_id"],
                    [float(x) for x in luts[i]],
                    [float(x) for x in r["qv"]],
                )
                for i, r in enumerate(q_rows)
            ],
            query_side_schema(
                q_base, "lut array<double>, qv array<double>"
            ),
        ).withColumn("qn", l2_norm(F.col("qv")))
        broadcast_q = True
        prepped = None
    else:
        # persist: the Arrow prep UDF feeds the probe relation, the
        # ADC-LUT relation, AND the refine join — without the persist
        # it recomputes up to 3× per query row (advisor finding r4)
        prep = _pq_query_udf(cents, codebooks, n_probe)
        prepped = q_base.select(
            "query_id",
            as_double_array(F.col("qv")).alias("qv"),
            prep(F.col("qv")).alias("e"),
        ).persist()
        probes_df = prepped.select(
            "query_id", F.explode("e.cells").alias("cell")
        )
        qlut_df = prepped.select(
            "query_id", F.col("e.lut").alias("lut"), "qv"
        ).withColumn("qn", l2_norm(F.col("qv")))
        broadcast_q = False

    # UNROLLED, not a HOF fold: m is a plan-time constant, so the ADC
    # sum compiles to m static element_at lookups. A/B at 128k
    # vectors / 32 cells: fold 6.1s vs unrolled 4.1s (~1.5x) — at
    # SMALL m the per-call HOF dispatch dominates. The inverse holds
    # for long arrays: unrolling the 64-dim dot product measured 5x
    # SLOWER than its aggregate/zip_with fold (64 bounds-checked
    # ElementAt pairs beat by the HOF's tight array loop) — unroll
    # short plan-time-constant sums, fold long vectors.
    terms = [
        F.get("lut", i * pq_k + F.get("codes", F.lit(i)).cast("int"))
        for i in range(m)
    ]
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    qlut_slim = qlut_df.select("query_id", "lut")
    if broadcast_q:
        qlut_slim = F.broadcast(qlut_slim)
        joined = ci.join(probes_df, "cell")
    else:
        joined = _salted_cell_join(ci, probes_df, n_cells)
    cands = (
        joined
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(qlut_slim, "query_id")
        .withColumn("adc", adc)
        .drop("lut", "codes", "cell")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    pool = (
        cands.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= refine_factor * k)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank: candidate-sized equi-join back to the raw vectors
    exact = (
        pool.join(
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                as_double_array(F.col(corpus_vec)).alias("cv"),
            ),
            "neighbor_id",
        )
        .withColumn("cn", l2_norm(F.col("cv")))
        .join(
            F.broadcast(qlut_df.select("query_id", "qv", "qn"))
            if broadcast_q
            else qlut_df.select("query_id", "qv", "qn"),
            "query_id",
        )
        .withColumn(
            "score",
            F.round(
                cosine_prenormed(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ),
                round_digits,
            ),
        )
        .select("query_id", "neighbor_id", "score")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    out = (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )
    if prepped is not None:
        from sqltask_spark.data import materialize_and_release

        return materialize_and_release(out, prepped)
    return out


def knn_graph_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int = 2,
    target_occupancy: int = 256,
    sample_cap: int = 4096,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate kNN graph via IVF cells — the scale path
    :func:`knn_graph` points to when exact O(n²) is off the table.

    Every vector is a MEMBER of its single nearest cell and a PROBE
    of its ``n_probe`` nearest cells; edges are scored only between a
    probing vector and the members of its probed cells. Because
    membership is single-cell, a (src, dst) pair meets at most once —
    no dedup pass. Pair work is O(n · n_probe · occupancy) with
    occupancy held at ``target_occupancy`` by the same √-scaling as
    :func:`semdedup_prune` (a fixed cell count would degrade
    quadratically with corpus growth — the occupancy lesson). Recall
    loss is confined to true neighbors living outside all probed
    cells; raise ``n_probe`` to buy recall linearly.

    Returns (src_id, rank, dst_id, score) — same shape and
    determinism contract as the exact graph it approximates
    (recall-vs-exact pytest-asserted).
    """
    from sqltask_spark.data import ensure_min_partitions, materialize_and_release

    if n_cells is None:
        n = df.count()
        n_cells = max(2, min(n // target_occupancy + 1, sample_cap // 4))
    cents = _centroid_matrix(df, id_col, vec_col, n_cells, sample_cap)
    assign = _cell_assign_udf(cents, max(1, n_probe))
    base = (
        ensure_min_partitions(df)
        .select(
            F.col(id_col).alias("id"),
            as_double_array(F.col(vec_col)).alias("v"),
        )
        .withColumn("cells", assign(F.col("v")))
        .withColumn("nrm", l2_norm(F.col("v")))
        .persist()
    )
    members = base.select(
        F.col("cells")[0].alias("cell"),
        F.col("id").alias("dst_id"),
        F.col("v").alias("dv"),
        F.col("nrm").alias("dn"),
    )
    probes = base.select(
        F.explode("cells").alias("cell"),
        F.col("id").alias("src_id"),
        F.col("v").alias("sv"),
        F.col("nrm").alias("sn"),
    )
    scored = (
        probes.join(members, "cell")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select(
            "src_id",
            "dst_id",
            F.round(
                cosine_prenormed(
                    F.col("sv"), F.col("dv"), F.col("sn"), F.col("dn")
                ),
                round_digits,
            ).alias("score"),
        )
        .filter(F.col("score").isNotNull())
    )
    w = Window.partitionBy("src_id").orderBy(
        F.desc("score"), F.asc("dst_id")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    return materialize_and_release(out, base)
