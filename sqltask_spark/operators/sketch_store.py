"""Persistent mergeable-sketch state tables — incremental corpus
statistics with NO history re-scan.

The 100 TB story: "how many distinct documents per source" must not
require touching yesterday's 99 TB again. Mergeable register
sketches form a join-semilattice — states combine by element-wise
register MAX — so each ingest batch can fold its own batch-sized
sketch into a persisted state table whose size is bounded by
groups × m registers FOREVER, regardless of corpus size. Two
properties fall out of the lattice algebra and are load-bearing at
scale:

- **updates are idempotent AND commutative** (max is), so
  at-least-once redelivery, replays, and out-of-order batches all
  converge to the same state with NO epoch ledger — the CRDT
  argument; contrast the row-upsert sinks, which need the
  ``{app_id}:epoch#fingerprint`` ledger precisely because row
  replacement is neither;
- **reads are O(state)**, never O(corpus): estimates come from the
  register rows alone.

Storage reuses the versioned table format of
:mod:`sqltask_spark.operators.merge`: atomic commits, time travel
over past sketch states, and the batch ledger (a ledgered batch id
skips the fold before anything is read: a free fast path for the
lattice folds, mandatory for the sum folds). The element-wise folds — HLL max,
Count-Min and histogram sum, Bloom OR — compute the complete next
state as ONE keyed aggregate over stored ∪ batch, unique per key by
construction, and commit it as one snapshot write
(:func:`~sqltask_spark.operators.merge.fold_parquet_table`): no keyed
MERGE of the state into itself, no match search, no counts. The
heavy-hitter and KMV folds and the Bloom and histogram rebuilds
commit their complete next state the same way: a row they evict is
simply not in it. The full-state rewrite per update is deliberate and
bounded: the HLL state is at most groups × 256 rows.

A store's frozen parameters — the Bloom capacity, the histogram's
bucket layout, the heavy-hitter and KMV ``k`` — live in its manifest's
``params`` (:func:`read_params`), never in its rows, as the tables
keep their schema there: every fold gets them from the manifest it
commits against, and a rebuild commits its new parameters in the same
manifest as the state they shaped. So a reader reads them with no
job, every group value — null included — is an ordinary group, and
``as_of`` time travel pairs each version's rows with its own
parameters.

Same register/estimator discipline as the oracled
``source_distinct_hll`` catalog entry (integer-only: rank from
binary-string length, harmonic sum as Σ 2^(cap−rho) in BIGINT,
alpha in micro units) so the incremental path hash-matches the
direct DuckDB computation bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame


def read_params(
    spark: SparkSession, path: str, as_of: int | None = None
) -> dict:
    """The frozen parameters of the store at ``path`` — ``m_bits``
    (Bloom), ``bucket_width`` and ``n_buckets`` (histogram), ``k``
    (heavy hitters, KMV) — from its manifest, so no job runs;
    ``as_of`` returns those of that version."""
    from sqltask_spark.operators.merge import TableStore

    return TableStore(spark, path).committed(as_of).get("params", {})


def _committed(
    spark: SparkSession, path: str, as_of: int | None = None
) -> "tuple[DataFrame, dict]":
    """The committed rows of the store at ``path`` and the parameters
    of the same manifest: one manifest read, so a rebuild that commits
    in between cannot pair new parameters with old rows."""
    from sqltask_spark.operators.merge import TableStore

    store = TableStore(spark, path)
    m = store.committed(as_of)
    return store.read(m), m.get("params", {})


HLL_M = 256
HLL_RHO_CAP = 24
_ALPHA_MICRO = 718273  # round(1e6 * 0.7213 / (1 + 1.079/256))
_HLL_NUM = _ALPHA_MICRO * HLL_M * HLL_M * (1 << HLL_RHO_CAP)


def hll_register_rows(
    df: DataFrame, group_col: str, fp_col: str
) -> DataFrame:
    """Sparse HLL register state (g, idx, r) from md5-HEX
    fingerprints: register index = first 2 hex digits (8 bits), rank
    rho = leading zeros of the next 40 bits + 1 (derived from
    binary-string LENGTH — no logs, engine-portable), capped at
    :data:`HLL_RHO_CAP`. One map-side-combined groupBy; output is at
    most groups × m rows."""
    idx = F.conv(F.substring(F.col(fp_col), 1, 2), 16, 10).cast("int")
    w = F.conv(F.substring(F.col(fp_col), 3, 10), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(HLL_RHO_CAP)).otherwise(
        F.least(F.lit(41) - F.length(F.bin(w)), F.lit(HLL_RHO_CAP))
    )
    return (
        df.select(
            F.col(group_col).cast("string").alias("g"),
            idx.alias("idx"),
            rho.alias("rho"),
        )
        .groupBy("g", "idx")
        .agg(F.max("rho").cast("int").alias("r"))
    )


def create_hll_store(regs: DataFrame, path: str) -> None:
    """Materialize (g, idx, r) register rows as version 0 of a sketch
    state table."""
    from sqltask_spark.operators.merge import create_parquet_table

    create_parquet_table(regs.select("g", "idx", "r"), path)


def update_hll_store(
    spark: SparkSession,
    path: str,
    regs: DataFrame,
    batch_id: str | None = None,
) -> dict:
    """Fold a batch's register rows into the persisted state:
    element-wise MAX via one (g, idx)-keyed aggregate over the stored
    and batch registers, committed as the store's next snapshot
    (:func:`~sqltask_spark.operators.merge.fold_parquet_table`).
    Idempotent and commutative by the lattice algebra — replaying any
    batch (or applying batches out of order) cannot change the
    converged state; ``batch_id`` only short-circuits the work for
    exact redeliveries."""
    from sqltask_spark.operators.merge import fold_parquet_table

    # max over the union is the element-wise lattice join (register
    # ranks are >= 1, so an absent side never decides a value): one
    # exchange on <= groups x m rows per side
    def fold(stored, params):
        return (
            stored.unionByName(regs.select("g", "idx", "r"))
            .groupBy("g", "idx")
            .agg(F.max("r").cast("int").alias("r"))
        )

    return fold_parquet_table(spark, path, fold, batch_id=batch_id)


CM_D = 2
CM_W = 4096


def cm_pos(j: int, token_col: str):
    """THE Count-Min cell function — md5-long of ``cm:{j}:{token}``
    mod w. Single definition shared by the grid WRITE path
    (:func:`cm_cell_rows`), the probe READ path
    (:func:`read_cm_estimates`), and the ``count_min_tokens``
    catalog entry: the two sides must agree bit-for-bit or estimates
    go wrong-but-plausible (min-over-rows still returns numbers), so
    divergence is made impossible rather than merely tested."""
    from sqltask_spark.operators.retrieval import md5_long

    return F.pmod(
        md5_long(F.concat(F.lit(f"cm:{j}:"), F.col(token_col))),
        F.lit(CM_W),
    )


def cm_cell_rows(
    census: DataFrame, group_col: str, token_col: str, count_col: str
) -> DataFrame:
    """Count-Min grid cells (g, j, p, cnt) from a token census —
    d=2 md5-long hash rows × w=4096 counters (the
    ``count_min_tokens`` family), at most groups × d × w rows."""

    def pos(j: int):
        return cm_pos(j, token_col)

    return (
        census.select(
            F.col(group_col).cast("string").alias("g"),
            F.col(count_col).alias("c"),
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(j).alias("j"), pos(j).alias("p"))
                        for j in range(CM_D)
                    ]
                )
            ).alias("cell"),
        )
        .groupBy(
            "g", F.col("cell.j").alias("j"), F.col("cell.p").alias("p")
        )
        .agg(F.sum("c").cast("long").alias("cnt"))
    )


def create_cm_store(cells: DataFrame, path: str) -> None:
    """Materialize (g, j, p, cnt) grid cells as version 0 of a
    Count-Min state table."""
    from sqltask_spark.operators.merge import create_parquet_table

    create_parquet_table(cells.select("g", "j", "p", "cnt"), path)


def update_cm_store(
    spark: SparkSession,
    path: str,
    cells: DataFrame,
    batch_id: str,
) -> dict:
    """Fold a batch's grid cells into the persisted state by
    element-wise SUM — and here the ledger is MANDATORY, the exact
    inverse of the HLL store's algebra: summation is associative and
    commutative but NOT idempotent, so a redelivered batch would
    silently double-count every colliding cell. ``batch_id`` must
    uniquely identify the batch CONTENT (use
    :func:`sqltask_spark.data.content_fingerprint` for streaming
    epochs); a ledgered id makes the retry a manifest-read no-op.
    """
    if not batch_id:
        raise ValueError(
            "update_cm_store requires a batch_id: the sum fold is not"
            " idempotent — an unledgered redelivery double-counts"
        )
    from sqltask_spark.operators.merge import fold_parquet_table

    # sum over the union is the element-wise addition (an absent side
    # adds 0): one exchange on <= groups x d x w rows per side
    def fold(stored, params):
        return (
            stored.unionByName(cells.select("g", "j", "p", "cnt"))
            .groupBy("g", "j", "p")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    return fold_parquet_table(spark, path, fold, batch_id=batch_id)


def read_cm_estimates(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    group_col: str,
    token_col: str,
    as_of: int | None = None,
) -> DataFrame:
    """Frequency estimates for probe tokens from the persisted grid:
    min over the d row counters — the one-sided CM guarantee
    (estimate ≥ true count). The grid is broadcast-small by
    construction (≤ groups × d × w rows)."""
    from sqltask_spark.operators.merge import read_parquet_table

    grid = read_parquet_table(spark, path, as_of=as_of)

    def pos(j: int):
        return cm_pos(j, token_col)

    probe_cells = probes.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(token_col).alias("tok"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), pos(j).alias("p"))
                    for j in range(CM_D)
                ]
            )
        ).alias("cell"),
    ).select(
        "g", "tok", F.col("cell.j").alias("j"), F.col("cell.p").alias("p")
    )
    return (
        probe_cells.join(F.broadcast(grid), ["g", "j", "p"], "left")
        .groupBy("g", "tok")
        .agg(
            F.min(F.coalesce("cnt", F.lit(0)))
            .cast("long")
            .alias("cm_estimate")
        )
    )


BLOOM_K = 2
BLOOM_WORD_BITS = 63


def bloom_positions(value_col: str, m_bits: int) -> list:
    """THE Bloom position family — md5-long of ``bl:{j}:{value}``
    mod the FROZEN ``m_bits``. One definition shared by build, fold,
    and probe (the cm_pos discipline): write/read divergence would
    produce wrong-but-plausible membership answers."""
    from sqltask_spark.operators.retrieval import md5_long

    return [
        F.pmod(
            md5_long(F.concat(F.lit(f"bl:{j}:"), F.col(value_col))),
            F.lit(m_bits),
        )
        for j in range(BLOOM_K)
    ]


def bloom_word_rows(
    values: DataFrame, value_col: str, m_bits: int
) -> DataFrame:
    """(word, bits) bitmap rows for a value batch under the frozen
    ``m_bits`` — ≤ m_bits/63 rows regardless of batch size."""
    return (
        values.select(
            F.explode(
                F.array(*bloom_positions(value_col, m_bits))
            ).alias("pos")
        )
        .select(
            F.expr(f"pos DIV {BLOOM_WORD_BITS}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def create_bloom_store(
    values: DataFrame, path: str, m_bits: int, value_col: str
) -> None:
    """Materialize a Bloom membership store with FROZEN capacity
    ``m_bits`` (size it for the EXPECTED total population — standard
    Bloom capacity planning; the frozen-parameter rule is the same
    one the IVF quantizer follows). The capacity is the store's
    ``m_bits`` parameter (:func:`read_params`)."""
    from sqltask_spark.operators.merge import create_parquet_table

    create_parquet_table(
        bloom_word_rows(values, value_col, m_bits),
        path,
        params={"m_bits": int(m_bits)},
    )


def update_bloom_store(
    spark: SparkSession, path: str, values: DataFrame, value_col: str
) -> dict:
    """Fold a value batch into the store by element-wise bit OR —
    like the HLL max, OR is an idempotent commutative lattice join,
    so replays and out-of-order batches converge with NO ledger
    (contrast :func:`update_cm_store`). Positions use the store's
    FROZEN capacity; saturation (fp-rate drift) is the monitored
    quantity — see :func:`bloom_saturation`."""
    from sqltask_spark.operators.merge import fold_parquet_table

    # bit_or over the union is the element-wise OR: one exchange on
    # the <= m_bits/63-row state
    def fold(stored, params):
        batch = bloom_word_rows(values, value_col, params["m_bits"])
        return (
            stored.unionByName(batch)
            .groupBy("word")
            .agg(F.bit_or("bits").alias("bits"))
        )

    return fold_parquet_table(spark, path, fold)


def rebuild_bloom_store(
    spark: SparkSession,
    path: str,
    members: DataFrame,
    value_col: str,
    m_bits_new: int,
) -> None:
    """Rebuild the store at a NEW frozen capacity from the driving
    member set — the only move when saturation outgrows ``m_bits``
    (positions are taken mod the frozen capacity, so old bitmaps
    cannot be re-hashed; same frozen-parameter rule as the IVF
    quantizer, same rebuild answer). One ATOMIC commit: the new
    capacity's word rows replace the store's whole state, and the new
    capacity its ``m_bits``, in one snapshot write
    (:func:`~sqltask_spark.operators.merge.fold_parquet_table`) —
    readers see the old store until the manifest lands, the new one
    after, never a mix (a mixed read would produce false NEGATIVES,
    the one error class a Bloom filter must never make).
    """
    from sqltask_spark.operators.merge import fold_parquet_table

    fold_parquet_table(
        spark,
        path,
        lambda stored, params: bloom_word_rows(
            members, value_col, params["m_bits"]
        ),
        params={"m_bits": int(m_bits_new)},
    )


def bloom_probe(
    spark: SparkSession,
    path: str,
    candidates: DataFrame,
    value_col: str,
) -> DataFrame:
    """``candidates`` + ``bloom_hit`` (1 = all K positions set — the
    one-sided maybe-member answer; 0 = definitely absent), one output
    row per candidate row. The word table is broadcast: it is
    ≤ m_bits/63 rows by construction.

    EXCHANGE-FREE (r12 session 4, guide §2.4): each of the K frozen
    positions gets its own LEFT broadcast join against the word table
    (the same tiny relation, broadcast once and reused), so the hit
    folds as a per-row conjunction in the projection — the former
    explode(K) + broadcast join + groupBy over every candidate column
    shuffled K× the probe rows just to fold K bits back together.
    Candidate rows pass through 1:1 (word is unique per store), so
    for the duplicate-free candidate sets every caller feeds, the
    output is row-identical to the old aggregate."""
    words, params = _committed(spark, path)
    out = candidates
    hits = []
    for j, pos in enumerate(bloom_positions(value_col, params["m_bits"])):
        pj, wj, bj = f"__pos{j}", f"__w{j}", f"__b{j}"
        out = out.withColumn(pj, pos).join(
            F.broadcast(
                words.select(
                    F.col("word").alias(wj), F.col("bits").alias(bj)
                )
            ),
            F.expr(f"{pj} DIV {BLOOM_WORD_BITS}") == F.col(wj),
            "left",
        )
        hits.append(
            F.when(
                F.col(bj).isNotNull()
                & (
                    F.expr(
                        f"({bj} >> CAST({pj} % {BLOOM_WORD_BITS} AS"
                        " INT)) & 1"
                    )
                    == 1
                ),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
    conj = hits[0]
    for h in hits[1:]:
        conj = conj * h
    return out.select(
        *[F.col(c) for c in candidates.columns],
        conj.cast("int").alias("bloom_hit"),
    )


def bloom_saturation(spark: SparkSession, path: str) -> DataFrame:
    """One-row saturation monitor: set-bit count over frozen
    capacity — the fp-rate drift signal that says when the frozen
    ``m_bits`` has outgrown its population (rebuild with a larger
    capacity, exactly like the IVF drift rebuild)."""
    words, params = _committed(spark, path)
    return (
        words.agg(
            F.lit(params["m_bits"]).cast("long").alias("m_bits"),
            F.sum(F.bit_count("bits")).cast("long").alias("n_set_bits"),
            F.count(F.lit(1)).cast("long").alias("n_words_used"),
        )
        .select(
            "m_bits",
            "n_set_bits",
            "n_words_used",
            F.expr("(n_set_bits * 1000000) DIV m_bits")
            .cast("long")
            .alias("fill_micro"),
        )
    )


def read_hll_estimates(
    spark: SparkSession, path: str, as_of: int | None = None
) -> DataFrame:
    """Distinct-count estimates from the persisted register state —
    per group plus the merged ``__ALL__`` row (element-wise max
    across groups, the same combine that built the state). Integer
    milli-unit estimator identical to the ``source_distinct_hll``
    certificate; ``as_of`` reads a PAST committed sketch state (what
    did the corpus look like before this week's ingest?)."""
    from sqltask_spark.operators.merge import read_parquet_table

    regs_src = read_parquet_table(spark, path, as_of=as_of)
    regs = regs_src.unionByName(
        regs_src.groupBy("idx")
        .agg(F.max("r").alias("r"))
        .withColumn("g", F.lit("__ALL__"))
        .select("g", "idx", "r")
    )
    return (
        regs.groupBy("g")
        .agg(
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT),"
                    f" CAST({HLL_RHO_CAP} - r AS INT))"
                )
            ).alias("s_present"),
            F.count(F.lit(1)).alias("n_present"),
            F.sum("r").cast("long").alias("sum_rho"),
        )
        .select(
            "g",
            (F.lit(HLL_M) - F.col("n_present"))
            .cast("long")
            .alias("n_zero_registers"),
            "sum_rho",
            F.expr(
                f"CAST({_HLL_NUM} AS BIGINT) DIV (1000 * (s_present"
                f" + ({HLL_M} - n_present)"
                f" * {1 << HLL_RHO_CAP}))"
            ).alias("est_milli"),
        )
    )


def hist_bucket(value_col: str, bucket_width: int, n_buckets: int):
    """THE histogram bucket function — ``least(v DIV W, n-1)`` with
    negatives clamped to bucket 0. Pure INTEGER arithmetic (no log,
    no float), so Spark and DuckDB bin identically by construction —
    the quantile read is hash-matchable, not merely approximate-ly
    close. One definition shared by build, fold, and read (the
    cm_pos discipline)."""
    return F.expr(
        f"least(greatest(CAST({value_col} AS BIGINT), 0)"
        f" DIV {int(bucket_width)}, {int(n_buckets) - 1})"
    )


def hist_cell_rows(
    values: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: int,
    n_buckets: int,
    weight_col: "str | None" = None,
) -> DataFrame:
    """(g, b, cnt) histogram cells for a value batch under the frozen
    layout — at most groups × n_buckets rows regardless of batch
    size. NULL values carry no position (SQL-aggregate NULL
    semantics). ``weight_col`` bins a pre-aggregated (group, value,
    count) census instead of raw rows — each value contributes its
    count, so a census-driven rebuild never re-expands rows."""
    w = (
        F.sum(F.col(weight_col))
        if weight_col is not None
        else F.count(F.lit(1))
    )
    return (
        values.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("g"),
            hist_bucket(value_col, bucket_width, n_buckets).alias("b"),
            *( [F.col(weight_col)] if weight_col is not None else [] ),
        )
        .groupBy("g", "b")
        .agg(w.cast("long").alias("cnt"))
    )


def create_hist_store(
    values: DataFrame,
    path: str,
    group_col: str,
    value_col: str,
    bucket_width: int,
    n_buckets: int = 256,
    batch_id: "str | None" = None,
) -> None:
    """Materialize a per-group histogram store with FROZEN
    ``(bucket_width, n_buckets)`` — the incremental-quantile member
    of the sketch-store family. Size the width for the expected
    value range (top bucket absorbs the tail; monitor
    :func:`hist_saturation` for the rebuild-wider signal, exactly
    like the Bloom capacity and the IVF quantizer). State is bounded
    at groups × n_buckets rows FOREVER; quantile reads carry a
    ±bucket_width rank-certified interval. The layout is the store's
    ``bucket_width`` and ``n_buckets`` parameters
    (:func:`read_params`)."""
    from sqltask_spark.operators.merge import create_parquet_table

    if int(bucket_width) < 1 or int(n_buckets) < 2:
        raise ValueError(
            f"need bucket_width >= 1 and n_buckets >= 2, got"
            f" ({bucket_width}, {n_buckets})"
        )
    # ``batch_id`` seeds the ledger with the CREATING batch: a
    # replayed first epoch must be a no-op exactly like any other
    # replayed fold (the streaming sink's exactly-once proof found
    # the create path silently outside the ledger)
    create_parquet_table(
        hist_cell_rows(values, group_col, value_col, bucket_width, n_buckets),
        path,
        batch_id=batch_id,
        params={
            "bucket_width": int(bucket_width), "n_buckets": int(n_buckets)
        },
    )


def update_hist_store(
    spark: SparkSession,
    path: str,
    values: DataFrame,
    group_col: str,
    value_col: str,
    batch_id: str,
) -> dict:
    """Fold a value batch into the store by per-bucket SUM — the
    same non-idempotent algebra as the Count-Min grid, so the batch
    LEDGER is mandatory (an unledgered redelivery would double-count
    every bucket and silently shift every quantile). Binning uses
    the store's FROZEN layout."""
    if not batch_id:
        raise ValueError(
            "update_hist_store requires a batch_id: the sum fold is"
            " not idempotent — an unledgered redelivery double-counts"
        )
    from sqltask_spark.operators.merge import fold_parquet_table

    # sum over the union, as in the Count-Min grid
    def fold(stored, params):
        batch = hist_cell_rows(
            values, group_col, value_col,
            params["bucket_width"], params["n_buckets"],
        )
        return (
            stored.unionByName(batch)
            .groupBy("g", "b")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    return fold_parquet_table(spark, path, fold, batch_id=batch_id)


def read_hist_quantiles(
    spark: SparkSession,
    path: str,
    qs_milli: "list[int]",
    as_of: int | None = None,
) -> DataFrame:
    """Rank-certified quantile INTERVALS per group from the persisted
    histogram: for each q (in milli units, e.g. 500 = median), the
    first bucket whose cumulative count reaches q of the group total
    — integer cross-multiplied threshold ``cum·1000 ≥ q·total``, the
    exact inequality the weighted-percentile UDAF and its oracle
    state, so no float can disagree between engines. Returns
    ``(g, q_milli, bucket, lo, hi, cum_count, total_count)`` where
    the true q-quantile lies in ``[lo, hi)`` (``hi`` NULL for the
    unbounded top bucket — the saturation signal's territory).
    Partitioned window (per group) over a state-bounded relation —
    never a global window. The layout is read from the manifest of the
    cells, so ``as_of`` never pairs a rebuilt width with old-width
    buckets."""
    from pyspark.sql import Window

    cells, params = _committed(spark, path, as_of)
    width, n_buckets = params["bucket_width"], params["n_buckets"]
    w_cum = (
        Window.partitionBy("g")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.select(
        "g",
        "b",
        F.sum("cnt").over(w_cum).cast("long").alias("cum_count"),
        F.sum("cnt").over(
            Window.partitionBy("g").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("total_count"),
    )
    qdf = F.explode(
        F.array(*[F.lit(int(q)).alias("q") for q in qs_milli])
    )
    # the cumulative count rises with the bucket, so the hit bucket's
    # is the hits' least: no join back to the cells (an equi-join on g
    # would also drop the null group)
    return (
        cum.select("*", qdf.alias("q_milli"))
        .filter(
            F.col("cum_count") * 1000
            >= F.col("q_milli") * F.col("total_count")
        )
        .groupBy("g", "q_milli")
        .agg(
            F.min("b").cast("long").alias("bucket"),
            F.min("cum_count").alias("cum_count"),
            F.max("total_count").cast("long").alias("total_count"),
        )
        .select(
            "g",
            "q_milli",
            "bucket",
            (F.col("bucket") * F.lit(int(width)))
            .cast("long").alias("lo"),
            F.when(
                F.col("bucket") < F.lit(int(n_buckets) - 1),
                (F.col("bucket") + 1) * F.lit(int(width)),
            ).cast("long").alias("hi"),
            "cum_count",
            "total_count",
        )
    )


def hist_saturation(
    spark: SparkSession, path: str, as_of: int | None = None
) -> DataFrame:
    """One row per group: mass fraction (milli) sitting in the
    UNBOUNDED top bucket — the signal that the frozen width has
    outgrown its value distribution (a top-heavy histogram certifies
    nothing above ``(n_buckets-1)·width``). Rebuild wider on drift,
    exactly like the Bloom capacity. ``as_of`` time-travels layout
    and cells TOGETHER (as in :func:`read_hist_quantiles`)."""
    cells, params = _committed(spark, path, as_of)
    n_buckets = params["n_buckets"]
    return (
        cells.groupBy("g")
        .agg(
            F.sum("cnt").cast("long").alias("total_count"),
            F.sum(
                F.when(
                    F.col("b") == n_buckets - 1, F.col("cnt")
                ).otherwise(F.lit(0))
            ).cast("long").alias("top_bucket_count"),
        )
        .select(
            "g",
            "total_count",
            "top_bucket_count",
            F.expr("(top_bucket_count * 1000) DIV total_count")
            .cast("long")
            .alias("top_bucket_milli"),
        )
    )


def rebuild_hist_store(
    spark: SparkSession,
    path: str,
    members: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width_new: int,
    weight_col: "str | None" = None,
) -> None:
    """Rebuild the store at a NEW frozen width from the driving value
    relation — the only move when the top bucket saturates (buckets
    cannot be split after the fact; same frozen-parameter rule as
    Bloom capacity / the IVF quantizer). The new-layout cells and the
    new width replace the store's state and ``bucket_width`` in one
    snapshot write
    (:func:`~sqltask_spark.operators.merge.fold_parquet_table`) —
    readers see the old histogram until the manifest lands, never a
    mixed-width state."""
    from sqltask_spark.operators.merge import fold_parquet_table

    # the fold sees the new width and the carried-over bucket count
    fold_parquet_table(
        spark,
        path,
        lambda stored, params: hist_cell_rows(
            members, group_col, value_col,
            params["bucket_width"], params["n_buckets"],
            weight_col=weight_col,
        ),
        params={"bucket_width": int(bucket_width_new)},
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy-hitters store — the TOP-K member of the sketch
# family (HLL = distinct, Count-Min = point frequency, Bloom =
# membership, histogram = quantiles, MG = frequent items). State is
# bounded at groups × (k + 2) rows FOREVER; every read carries a
# rank-certified count interval, and the summary PROVABLY contains
# every item whose true count exceeds the group's accumulated
# decrement (which the store tracks EXACTLY as a per-group row, so the
# certificate is data-dependent and tight, not the worst-case n/k).
#
# Fold = the mergeable-summaries merge (Agarwal et al., PODS'12):
# combine stored counters with the batch's counts, subtract the
# (k+1)-th largest per group from all, keep the positive — at most k
# survive, and the subtracted value adds to the group's decrement
# total. Per-group partitioned window over ≤ k + batch-distinct rows
# (never a global window). Counter VALUES are fold-order-dependent
# (the algorithm's nature); the [cnt, cnt + decr] containment and
# the heavy-hitter completeness guarantee hold under ANY order
# (pytest-pinned both ways). SUM-style fold ⇒ the batch LEDGER is
# mandatory, exactly like the histogram store.
# ---------------------------------------------------------------------------

_MG_DECR_ITEM = "__MG_DECR__"
_MG_TOTAL_ITEM = "__MG_TOTAL__"


def _mg_counts(
    values: DataFrame, group_col: str, item_col: str,
    weight_col: "str | None",
) -> DataFrame:
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    item = F.col(item_col).cast("string")
    # a user item equal to a sentinel would share its (g, item) key
    # with the group's decrement or total row: fail the write loudly
    # (no extra job — the check runs inside the fold's own plan)
    item = F.when(
        item.isin(_MG_DECR_ITEM, _MG_TOTAL_ITEM),
        F.raise_error(
            F.concat(
                F.lit("MG store: item "), item,
                F.lit(" is a reserved sentinel value"),
            )
        ),
    ).otherwise(item)
    return (
        values.select(
            F.col(group_col).cast("string").alias("g"),
            item.alias("item"),
            w.alias("w"),
        )
        .filter(F.col("item").isNotNull())
        .groupBy("g", "item")
        .agg(F.sum("w").cast("long").alias("cnt"))
    )


def _mg_fold(
    counters: DataFrame, decr: DataFrame, total: DataFrame,
    batch: DataFrame, k: int,
):
    """The surviving counters ∪ updated decr ∪ updated total rows
    after one mergeable-summaries step.
    ``counters``/``batch`` are (g, item, cnt); ``decr``/``total``
    are (g, cnt) of prior decrement totals / total folded mass
    (absent groups = 0). Tracking total mass exactly is what makes
    the error ratio OBSERVABLE (:func:`mg_saturation`) — decr/total
    is the store's data-dependent bound, ≤ 1/(k+1) by construction.

    JOIN-FREE (r12 session 4, guide §2.4 "remove shuffles outright"):
    counters, total AND decr rows all ride ONE (g, item, _sp)
    aggregate, then ONE g-partitioned window pass both ranks the
    counters and broadcasts each group's (k+1)-th counter value
    ``_d`` to every row of the group — no kth1 aggregate, no join
    back, no decr full-outer join (formerly 2 joins + 1 extra
    aggregate per fold). The batch contributes a zero-count decr row
    per group (deduped for free by the aggregate), so every group
    that CAN have a (k+1)-th counter — state alone holds ≤ k — owns a
    decr row to absorb ``_d``; zero-valued decr rows are dropped on
    output, which is exactly the old join's emission set. ``_sp``
    tags provenance so a counter never sums into the total/decr rows
    (a user item equal to a sentinel string fails in
    :func:`_mg_counts`); ``_sp`` ordering ranks counters ahead of the
    total and decr rows so ``_rn == k+1 ∧ _sp == 0`` is the (k+1)-th
    counter.
    """
    from pyspark.sql import Window

    def _tag(df, sp):
        return df.withColumn("_sp", F.lit(sp))

    combined_all = (
        _tag(counters.unionByName(batch), 0)
        .unionByName(
            _tag(
                total.select(
                    "g", F.lit(_MG_TOTAL_ITEM).alias("item"), "cnt"
                ).unionByName(
                    batch.select(
                        "g",
                        F.lit(_MG_TOTAL_ITEM).alias("item"),
                        "cnt",
                    )
                ),
                1,
            )
        )
        .unionByName(
            _tag(
                decr.select(
                    "g", F.lit(_MG_DECR_ITEM).alias("item"), "cnt"
                ).unionByName(
                    batch.select(
                        "g",
                        F.lit(_MG_DECR_ITEM).alias("item"),
                        F.lit(0).cast("long").alias("cnt"),
                    )
                ),
                2,
            )
        )
        .groupBy("g", "item", "_sp")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    order = [F.col("_sp").asc(), F.col("cnt").desc(), F.col("item").asc()]
    win = Window.partitionBy("g").orderBy(*order)
    win_all = Window.partitionBy("g").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = combined_all.withColumn(
        "_rn", F.row_number().over(win)
    ).withColumn(
        "_d",
        F.coalesce(
            F.max(
                F.when(
                    (F.col("_rn") == k + 1) & (F.col("_sp") == 0),
                    F.col("cnt"),
                )
            ).over(win_all),
            F.lit(0),
        ),
    )
    adjusted = ranked.select(
        "g", "item", "_sp",
        F.when(F.col("_sp") == 0, F.col("cnt") - F.col("_d"))
        .when(F.col("_sp") == 2, F.col("cnt") + F.col("_d"))
        .otherwise(F.col("cnt"))
        .cast("long")
        .alias("cnt"),
    )
    return adjusted.filter(
        # counters/decr emit only positive rows (a zero decr row means
        # "no decrement yet" = the row's absence, the old join's
        # behavior); total rows emit unconditionally like before
        ((F.col("_sp") != 1) & (F.col("cnt") > 0))
        | (F.col("_sp") == 1)
    ).select("g", "item", "cnt")


def create_mg_store(
    values: DataFrame,
    path: str,
    group_col: str,
    item_col: str,
    k: int = 64,
    weight_col: "str | None" = None,
    batch_id: "str | None" = None,
) -> None:
    """Materialize the heavy-hitters store with FROZEN ``k`` (more
    counters cannot be conjured after the fact — the same frozen-
    parameter rule as the Bloom capacity and histogram width).
    ``batch_id`` seeds the ledger with the creating batch, exactly
    like :func:`create_hist_store` (a replayed first epoch must
    no-op). ``k`` is the store's ``k`` parameter
    (:func:`read_params`)."""
    from sqltask_spark.operators.merge import create_parquet_table

    spark = values.sparkSession
    if int(k) < 1:
        raise ValueError(f"need k >= 1, got {k}")
    batch = _mg_counts(values, group_col, item_col, weight_col)
    empty = local_frame(spark, [], "g string, item string, cnt long")
    empty_gc = local_frame(spark, [], "g string, cnt long")
    state = _mg_fold(empty, empty_gc, empty_gc, batch, int(k))
    create_parquet_table(
        state, path, batch_id=batch_id, params={"k": int(k)}
    )


def update_mg_store(
    spark: SparkSession,
    path: str,
    values: DataFrame,
    group_col: str,
    item_col: str,
    batch_id: str,
    weight_col: "str | None" = None,
) -> dict:
    """Fold a batch into the store — counter sums are NOT idempotent,
    so the batch LEDGER is mandatory (the histogram rule). The
    surviving counters and the decrement and total rows are the
    store's complete next state, committed as one snapshot
    write (:func:`~sqltask_spark.operators.merge.fold_parquet_table`):
    counters the decrement zeroed out are simply not in it."""
    if not batch_id:
        raise ValueError(
            "update_mg_store requires a batch_id: the counter fold is"
            " not idempotent — an unledgered redelivery double-counts"
        )
    from sqltask_spark.operators.merge import fold_parquet_table

    batch = _mg_counts(values, group_col, item_col, weight_col)

    def fold(stored, params):
        counters = stored.filter(
            ~F.col("item").isin(_MG_DECR_ITEM, _MG_TOTAL_ITEM)
        )
        decr = stored.filter(F.col("item") == _MG_DECR_ITEM).select(
            "g", "cnt"
        )
        total = stored.filter(F.col("item") == _MG_TOTAL_ITEM).select(
            "g", "cnt"
        )
        return _mg_fold(counters, decr, total, batch, params["k"])

    return fold_parquet_table(spark, path, fold, batch_id=batch_id)


def read_mg_topk(
    spark: SparkSession, path: str, as_of: int | None = None
) -> DataFrame:
    """The certified heavy-hitter summary: ``(g, item, cnt_lo,
    cnt_hi)`` with the TRUE count provably in ``[cnt_lo, cnt_hi]``
    (``cnt_hi − cnt_lo`` = the group's exact accumulated decrement).
    COMPLETENESS guarantee: every item whose true count exceeds the
    group's ``decr`` IS in the summary — an absent item's true count
    is ≤ decr. Both properties hold under any fold order."""
    from pyspark.sql import Window

    from sqltask_spark.operators.merge import read_parquet_table

    # each group's decrement reaches its counters through a window
    # over g, which keeps the null group (an equi-join on g would not)
    decr = F.max(
        F.when(F.col("item") == _MG_DECR_ITEM, F.col("cnt"))
    ).over(Window.partitionBy("g"))
    return (
        read_parquet_table(spark, path, as_of=as_of)
        .withColumn("_decr", decr)
        .filter(~F.col("item").isin(_MG_DECR_ITEM, _MG_TOTAL_ITEM))
        .select(
            "g",
            "item",
            F.col("cnt").cast("long").alias("cnt_lo"),
            (F.col("cnt") + F.coalesce("_decr", F.lit(0)))
            .cast("long")
            .alias("cnt_hi"),
        )
    )


def mg_saturation(
    spark: SparkSession, path: str, as_of: int | None = None
) -> DataFrame:
    """One row per group: ``(g, total_mass, decr, error_milli)`` —
    the store's DATA-DEPENDENT error ratio (accumulated decrement
    over exactly-tracked total fold mass, milli units; ≤ 1000/(k+1)
    by the MG bound). The drift signal of this family: a ratio
    approaching its bound means ``k`` is undersized for the
    distribution — rebuild with a larger frozen ``k`` from a member
    census, exactly as the histogram rebuilds wider and the Bloom
    rebuilds bigger (a counter set cannot be widened after the
    fact)."""
    from sqltask_spark.operators.merge import read_parquet_table

    def cnt_of(item):
        return F.max(F.when(F.col("item") == item, F.col("cnt")))

    # one aggregate over g, not a join on it: the null group keeps
    # its decrement (every group that has one has a total row)
    return (
        read_parquet_table(spark, path, as_of=as_of)
        .filter(F.col("item").isin(_MG_DECR_ITEM, _MG_TOTAL_ITEM))
        .groupBy("g")
        .agg(
            cnt_of(_MG_TOTAL_ITEM).alias("total_mass"),
            F.coalesce(cnt_of(_MG_DECR_ITEM), F.lit(0))
            .cast("long")
            .alias("decr"),
        )
        .withColumn(
            "error_milli",
            F.expr(
                "CASE WHEN total_mass > 0 THEN"
                " (decr * 1000) DIV total_mass"
                " ELSE 0 END"
            ).cast("long"),
        )
    )


# --------------------------------------------------------------------------
# KMV (bottom-k / k-minimum-values) distinct sketch store
# --------------------------------------------------------------------------
#
# The member of the family the HLL store cannot replace: bottom-k
# keeps the k smallest 48-bit md5 hashes of the DISTINCT keys per
# group, which supports (a) distinct-count estimation, (b) SET
# OPERATIONS — union/intersection/Jaccard across groups, because the
# kept hashes are a coordinated uniform sample of the key space that
# different groups (and different stores built with the same hash)
# can be compared element-wise — and (c) a deterministic uniform
# distinct-value sample (the kept keys themselves). HLL registers
# support none of these beyond union.
#
# Bottom-k of a union is associative, commutative, and idempotent
# (it is the join-semilattice meet on hash sets truncated at k), so
# the store gets the same CRDT treatment as the HLL registers: folds
# converge under replay, redelivery, and reordering with NO epoch
# ledger; ``batch_id`` is only the exact-redelivery fast path.
# Everything is exact integers over the md5 hex prefix — the same
# engine-portability discipline as every sketch here, which is what
# lets the incremental store hash-match a direct DuckDB computation.
#
# Unlike the Bloom store (fill factor) and the histogram store
# (top-bucket saturation), KMV has NO saturation failure mode: the
# relative error stays ~1/sqrt(k) at ANY cardinality, so this family
# member needs no drift monitor and no rebuild-bigger arm — freeze k
# once from the accuracy target and the store is maintenance-free
# forever (vacuum/retention aside).

_KMV_HEX = 12  # 48-bit hash: ('0x' || prefix)::BIGINT in DuckDB,
# conv(prefix, 16, 10) in Spark — both exact in BIGINT
_KMV_SPACE = 1 << (_KMV_HEX * 4)


def kmv_hash(key_col) -> "F.Column":
    """48-bit uniform hash of a (string-castable) key — the
    coordinated hash every KMV store shares."""
    return F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, _KMV_HEX),
        16, 10,
    ).cast("long")


def _kmv_bottom_k(rows: DataFrame, k: int) -> DataFrame:
    """Per-group k smallest (h, item) rows; ties on h broken by item
    so hash collisions cannot make the result order-dependent."""
    from pyspark.sql import Window

    win = Window.partitionBy("g").orderBy(
        F.col("h").asc(), F.col("item").asc()
    )
    return (
        rows.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= int(k))
        .drop("_rn")
    )


def kmv_rows(
    df: DataFrame, group_col: str, key_col: str, k: int
) -> DataFrame:
    """Batch-side sketch: per-group bottom-k of the distinct keys as
    ``(g, item, h)``. One distinct + one windowed top-k — map-side
    combine does the heavy lifting, output is at most groups × k."""
    base = (
        df.select(
            F.col(group_col).cast("string").alias("g"),
            F.col(key_col).cast("string").alias("item"),
        )
        .filter(F.col("item").isNotNull())
        .distinct()
        .withColumn("h", kmv_hash("item"))
    )
    return _kmv_bottom_k(base, k)


def create_kmv_store(
    values: DataFrame,
    path: str,
    group_col: str,
    key_col: str,
    k: int = 64,
    batch_id: "str | None" = None,
) -> None:
    """Materialize the store with FROZEN ``k`` (the family rule: a
    sketch parameter cannot grow after the fact — rebuild instead);
    ``k`` is the store's ``k`` parameter (:func:`read_params`)."""
    from sqltask_spark.operators.merge import create_parquet_table

    if int(k) < 1:
        raise ValueError(f"need k >= 1, got {k}")
    create_parquet_table(
        kmv_rows(values, group_col, key_col, int(k)), path,
        batch_id=batch_id, params={"k": int(k)},
    )


def update_kmv_store(
    spark: SparkSession,
    path: str,
    values: DataFrame,
    group_col: str,
    key_col: str,
    batch_id: "str | None" = None,
) -> dict:
    """Fold a batch: union the stored hashes with the batch's keys and
    keep the k smallest per group — the store's complete next state, committed as one snapshot write
    (:func:`~sqltask_spark.operators.merge.fold_parquet_table`), so
    evicted rows simply drop out. Idempotent AND commutative (bottom-k
    of unions), so the ledger is optional exactly as for the HLL
    registers."""
    from sqltask_spark.operators.merge import fold_parquet_table

    batch = values.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(key_col).cast("string").alias("item"),
    ).filter(F.col("item").isNotNull())

    # Fused fold (r12 session 4, guide §2.4): the batch's raw keys
    # union straight into the state dedup — ONE (g, item) distinct
    # (map-side combine bounds the shuffle exactly like the former
    # batch-side pre-sketch did) + ONE bottom-k window, instead of
    # the former distinct + window on the batch FOLLOWED BY a second
    # aggregate + window over (stored ∪ batch bottom-k): 2 exchanges
    # per update gone. bottom-k(stored ∪ all batch distinct) ≡
    # bottom-k(stored ∪ batch bottom-k) — the bottom-k algebra the
    # docstring already relies on. ``h`` is a pure function of item,
    # recomputed post-dedup (identical values, stored rows included).
    def fold(stored, params):
        combined = (
            stored.select("g", "item")
            .unionByName(batch)
            .distinct()
            .withColumn("h", kmv_hash("item"))
        )
        return _kmv_bottom_k(combined, params["k"])

    return fold_parquet_table(spark, path, fold, batch_id=batch_id)


def read_kmv_state(
    spark: SparkSession, path: str, as_of: int | None = None
) -> DataFrame:
    """The kept ``(g, item, h)`` rows — ALSO a deterministic uniform
    sample of each group's distinct keys (the keys whose coordinated
    hash is smallest), usable directly for distinct-value inspection
    at O(k) per group."""
    from sqltask_spark.operators.merge import read_parquet_table

    return read_parquet_table(spark, path, as_of=as_of).select(
        "g", "item", "h"
    )


def kmv_estimates(state: DataFrame, k: int) -> DataFrame:
    """``(g, n_kept, est)`` from kept rows: exact below saturation,
    the (k-1)·2^48 / h_k KMV estimator at it — integer division, so
    any engine computes the identical value."""
    return (
        state.groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.max("h").alias("_hk"),
        )
        .select(
            "g",
            "n_kept",
            # BIGINT DIV, never double: (k-1)·2^48 exceeds 2^53, so a
            # float path could round differently than the oracle's //
            F.when(F.col("n_kept") < int(k), F.col("n_kept"))
            .otherwise(
                F.expr(f"CAST({(int(k) - 1) * _KMV_SPACE} AS BIGINT)"
                       " DIV _hk")
            )
            .cast("long")
            .alias("est"),
        )
    )


def read_kmv_estimates(
    spark: SparkSession, path: str, as_of: int | None = None
) -> DataFrame:
    """Distinct-count estimates per group from the persisted state —
    O(state) forever, never O(corpus)."""
    state, params = _committed(spark, path, as_of)
    return kmv_estimates(state, params["k"])


def kmv_set_estimates(state: DataFrame, k: int) -> DataFrame:
    """Pairwise set-operation estimates across groups from bottom-k
    states: ``(g1, g2, n_common, union_est, inter_est)`` for every
    g1 < g2.

    For each pair, the k smallest hashes of the UNION of the two kept
    sets form a valid KMV sketch of the set union (bottom-k algebra);
    within that window, membership in both groups is observable
    row-by-row, so ``inter_est = n_common · union_est / k_used`` —
    with ``k_used = min(k, |window|)`` the same formula is EXACT when
    neither group saturated (the window is then the whole union).
    All-integer arithmetic; the direct DuckDB replay hash-matches."""
    from pyspark.sql import Window

    a = state.select(
        F.col("g").alias("g1"), "item", "h",
    )
    b = state.select(
        F.col("g").alias("g2"), "item", "h",
    )
    # full outer pair-space via item-equijoin would miss items present
    # in only one group — build the pair union explicitly: for every
    # unordered group pair, each kept item of either group, flagged
    # with membership. Pairs come from the (small) group list itself.
    groups = state.select("g").distinct()
    # broadcast-of-aggregate cross join (the engine-wide crossJoin
    # rule): the group list is a distinct aggregate, tiny by contract
    pairs = (
        groups.select(F.col("g").alias("g1"))
        .crossJoin(F.broadcast(groups.select(F.col("g").alias("g2"))))
        .filter(F.col("g1") < F.col("g2"))
    )
    ua = pairs.join(a, "g1").select(
        "g1", "g2", "item", "h", F.lit(1).alias("_in1"),
        F.lit(0).alias("_in2"),
    )
    ub = pairs.join(b, "g2").select(
        "g1", "g2", "item", "h", F.lit(0).alias("_in1"),
        F.lit(1).alias("_in2"),
    )
    merged = (
        ua.unionByName(ub)
        .groupBy("g1", "g2", "item", "h")
        .agg(
            F.max("_in1").alias("in1"), F.max("_in2").alias("in2")
        )
    )
    win = Window.partitionBy("g1", "g2").orderBy(
        F.col("h").asc(), F.col("item").asc()
    )
    window_rows = merged.withColumn(
        "_rn", F.row_number().over(win)
    ).filter(F.col("_rn") <= int(k))
    return (
        window_rows.groupBy("g1", "g2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_nu"),
            F.max("h").alias("_hk"),
            F.sum(
                (F.col("in1") * F.col("in2")).cast("long")
            ).alias("n_common"),
        )
        .withColumn(
            "union_est",
            # same all-BIGINT DIV discipline as kmv_estimates
            F.when(F.col("_nu") < int(k), F.col("_nu"))
            .otherwise(
                F.expr(f"CAST({(int(k) - 1) * _KMV_SPACE} AS BIGINT)"
                       " DIV _hk")
            )
            .cast("long"),
        )
        .select(
            "g1",
            "g2",
            F.col("n_common").cast("long").alias("n_common"),
            "union_est",
            F.expr(
                f"(n_common * union_est) DIV least({int(k)}, _nu)"
            ).cast("long").alias("inter_est"),
        )
    )
