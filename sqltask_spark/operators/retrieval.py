"""Corpus retrieval operators: BM25 search and hashed TF-IDF vectors.

No reference counterpart (north-star extension): full-text relevance
ranking and sparse document vectorization are core tools of a
training-data pipeline (contamination screening against benchmark
queries, corpus exploration, lightweight topic features) — the
reference (villebro/sqltask) delegates all querying to the source
database and has no text surface at all.

Scale design (100 TB corpus):

- The corpus side is touched exactly once: one tokenize + explode
  pass produces ``(doc_id, term, tf)`` postings with map-side
  combine. For BM25 the postings are **semi-joined to the broadcast
  query-term set at the scan**, so the term-frequency shuffle carries
  only terms that appear in some query — corpus-sized work is a
  single embarrassingly-parallel projection regardless of query
  count.
- Document-frequency censuses aggregate the (already pruned)
  postings — at most ``n_query_terms`` groups for BM25, vocabulary-
  sized for TF-IDF — both map-side combined.
- All score arithmetic is fixed-point (micro-units summed as BIGINT)
  so results are bit-identical under any partitioning / shuffle
  order, and reproducible by any engine with ``ln`` — which is what
  makes the DuckDB oracles possible.
- No Python UDFs anywhere: every expression is JVM-side codegen.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame
from sqltask_spark.operators import text as tx

#: Micro-unit fixed-point scale shared with the oracle SQL.
_MICRO = 1_000_000


def _query_frame(
    spark: SparkSession, queries: Sequence[Tuple[int, str]]
) -> DataFrame:
    return local_frame(
        spark, list(queries), schema="query_id bigint, query_text string"
    )


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_term_df: Optional[int] = None,
) -> DataFrame:
    """Top-``k`` documents per query under BM25 ranking.

    ``queries`` must have columns ``(query_id, query_text)``. Returns
    ``(query_id, rank, doc_id, n_matched, score)`` with a
    deterministic tie-break (score desc, doc_id asc).

    Scoring uses the standard Lucene-style formula with idf =
    ln(1 + (N − df + ½)/(df + ½)); per-term contributions are
    rounded to integer micro-units before the per-document sum so the
    result is order-independent (bit-stable under any shuffle).

    ``max_term_df`` optionally drops query terms whose document
    frequency exceeds the cap — the stopword-query guard: a term
    matching half the corpus would otherwise turn one query into a
    corpus-sized scoring group (same trap and same fix as
    ``ngram_jaccard_pairs(max_shingle_df=...)``).
    """
    from sqltask_spark.data import ensure_min_partitions

    # tokenize+explode is CPU-bound per-row work: widen a small scan
    # (a single parquet file arrives as one input split and would
    # serialize the whole corpus pass on one core)
    docs = ensure_min_partitions(docs)

    # per-query distinct terms; tiny → broadcast everywhere below
    qterms = queries.select(
        "query_id",
        F.explode(
            F.array_distinct(tx.tokenize(F.col("query_text")))
        ).alias("term"),
    ).filter(F.col("term") != "")
    term_set = qterms.select("term").distinct()

    # ONE corpus pass: tokenize once per row (a projection boundary —
    # explode's generator input is not CSE'd with sibling expressions,
    # so `size(tokenize(..))` next to `explode(tokenize(..))` would
    # run the regex tokenizer twice per document) → prune to query
    # terms BEFORE the explode when the term set fits a literal
    # IN-list (the usual case: queries are small by construction).
    # Filtering inside the token ARRAY means the generator emits only
    # matching tokens — at 500k docs this is ~1000× fewer generated
    # rows than explode-then-join (measured 31s → single digits).
    # Document length is taken from the UNfiltered array first.
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tx.tokenize(F.col(text_col)).alias("toks"),
    )
    inline_terms = [
        r["term"] for r in term_set.limit(257).collect()
    ]
    if len(inline_terms) <= 256:
        keep = (
            (lambda t: t.isin(*inline_terms))
            if inline_terms
            else (lambda t: F.lit(False))
        )
        # skinny per-doc frame: (id, length, MATCHED terms only) —
        # persisted so the regex tokenizer runs exactly once per
        # document even though both the postings explode and the
        # corpus-stats aggregate consume it (DataFrame reuse is not
        # computation reuse). The cache is a tiny fraction of corpus
        # bytes: two ints + the handful of query-term hits per doc.
        slim = toks.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.filter("toks", keep).alias("mt"),
        ).persist()
        hits_src = slim.select(
            "doc_id", "dl", F.explode("mt").alias("term")
        )
        stats_src = slim
    else:
        # very large query batches: fall back to the broadcast
        # semi-join after the explode (still prunes pre-shuffle).
        # The (doc_id, dl, toks) projection is persisted so the regex
        # tokenizer still runs exactly once per document even though
        # both the postings explode and the corpus-stats aggregate
        # consume it — same one-corpus-pass contract as the inline
        # branch (this caches tokenized text, heavier than the inline
        # branch's matched-terms-only cache, but bounded by corpus
        # token bytes and spillable).
        slim = toks.select(
            "doc_id", F.size("toks").alias("dl"), "toks"
        ).persist()
        hits_src = slim.select(
            "doc_id", "dl", F.explode("toks").alias("term")
        ).join(F.broadcast(term_set), "term")
        stats_src = slim.select("doc_id", "dl")
    postings = hits_src.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")
    )

    # corpus stats: one map-side-combined aggregate, no explode
    stats = stats_src.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )

    # document frequency of the (pruned) query terms
    dfc = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_term_df is not None:
        dfc = dfc.filter(F.col("df") <= F.lit(max_term_df))

    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfn = (F.col("tf") * (F.lit(k1) + F.lit(1.0))) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)
    )
    scored = (
        postings.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            F.round(idf * tfn * F.lit(float(_MICRO)))
            .cast("long")
            .alias("contrib_micro"),
        )
    )

    hits = scored.join(F.broadcast(qterms), "term")
    agg = hits.groupBy("query_id", "doc_id").agg(
        F.sum("contrib_micro").alias("score_micro"),
        F.count(F.lit(1)).alias("n_matched"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    out = (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "n_matched",
            F.round(F.col("score_micro") / F.lit(float(_MICRO)), 6).alias(
                "score"
            ),
        )
    )
    if slim is not None:
        from sqltask_spark.data import materialize_and_release

        out = materialize_and_release(out, slim)
    return out


def hybrid_rrf_search(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    leg_k: int = 20,
    rrf_k: int = 60,
    n_buckets: int = 1024,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hybrid retrieval: BM25 ∪ hashed-TF-IDF-cosine, fused by
    Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009).

    No reference counterpart (north-star extension). Two independent
    rankers each produce their top ``leg_k`` per query:

    - **sparse leg** — :func:`bm25_search` (term-match relevance);
    - **dense leg** — cosine between the query's and each document's
      hashed TF-IDF vector (:func:`hashed_tfidf` geometry: md5
      feature-hashing into ``n_buckets``, corpus idf weighting both
      sides, centi-unit fixed-point weights so dots and norms are
      exact BIGINT sums).

    Fusion: ``score = Σ_legs 1/(rrf_k + rank)`` computed in micro
    units (``round(1e6/(rrf_k+rank))`` per leg, summed as BIGINT) so
    the fused ordering is bit-stable under any shuffle; ties break on
    doc_id. Returns
    ``(query_id, rank, doc_id, bm25_rank, dense_rank, score)`` with
    nullable per-leg ranks (null = outside that leg's top ``leg_k``).

    Scale shape: the BM25 leg prunes the corpus to broadcast query
    terms before its explode; the dense leg touches the corpus once
    (token census → bucket weights, both map-side combined) and its
    query⋈doc join carries only shared buckets of the ≤
    ``n_buckets``-wide query vector. The fusion join is over two
    ``|Q|·leg_k``-sized rank lists — outer-join on (query_id,
    doc_id), no corpus-sized input. All legs reuse their operators'
    plans; nothing new shuffles corpus bytes.

    Two independent tokenize passes DELIBERATELY: a shared persisted
    token census (one tokenize feeding both legs, mirroring the
    oracle's shared ``base`` CTE) was implemented and measured SLOWER
    at both sf0.1 (8.0s vs 6.6s) and sf1 (13.0s vs 11.4s) — caching
    corpus token arrays costs more than the regex pass it saves,
    while the standalone legs keep their optimal shapes (BM25 prunes
    inside the token array pre-explode; the dense census explodes
    without per-doc length baggage).
    """
    bm25 = bm25_search(
        docs, queries, id_col=id_col, text_col=text_col,
        k=leg_k, k1=k1, b=b,
    ).select("query_id", "doc_id", F.col("rank").alias("bm25_rank"))

    # ---- dense leg: hashed-TF-IDF cosine, centi-unit fixed point ----
    from sqltask_spark.data import ensure_min_partitions

    base = ensure_min_partitions(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tx.tokenize(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    tf = base.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        F.log(
            (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
        )
        + F.lit(1.0)
    )
    # centi-units (not micro): dot products multiply two weights, and
    # centi keeps Σ w_q·w_d well under 2^53 so the oracle's
    # HUGEINT→double conversion stays exact (same budget analysis as
    # tfidf_near_pairs).
    # df attaches to the corpus tf census via a count window over the
    # term key (r12 optimization, guide §2.4): identical value to the
    # former dfc merge-join (tf is one row per (doc, term), so a
    # per-term row count IS the document frequency), at one exchange
    # instead of an aggregate exchange plus a sort-merge join that
    # re-sorted the vocabulary-sized census. The standalone dfc
    # census below now feeds ONLY the query side's (tiny) join, and
    # its corpus subtree is shared with tf through exchange reuse.
    tf_w = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    w_d = (
        tf_w.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            md5_bucket(F.col("term"), n_buckets).alias("bucket"),
            F.round(F.col("tf") * idf * F.lit(100.0))
            .cast("long")
            .alias("w"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("w").alias("w"))
    )
    qtf = (
        queries.select(
            "query_id",
            F.explode(tx.tokenize(F.col("query_text"))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # corpus idf weights the query too; a term absent from the corpus
    # (df=0 via the left join) can't match any document, and the query
    # norm cancels inside per-query ranking, so dropping it is exact
    w_q = (
        qtf.join(dfc, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            md5_bucket(F.col("term"), n_buckets).alias("bucket"),
            F.round(F.col("tf") * idf * F.lit(100.0))
            .cast("long")
            .alias("w"),
        )
        .groupBy("query_id", "bucket")
        .agg(F.sum("w").alias("w"))
    )
    n2_d = w_d.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2_d")
    )
    n2_q = w_q.groupBy("query_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("n2_q")
    )
    dots = (
        w_q.select("query_id", "bucket", F.col("w").alias("wq"))
        .join(w_d.select("doc_id", "bucket", F.col("w").alias("wd")),
              "bucket")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("wq") * F.col("wd")).alias("dot"))
    )
    cos = F.col("dot") / (F.sqrt("n2_q") * F.sqrt("n2_d"))
    w_dense = Window.partitionBy("query_id").orderBy(
        F.round(cos, 9).desc(), F.col("doc_id")
    )
    dense = (
        dots.join(F.broadcast(n2_q), "query_id")
        .join(n2_d, "doc_id")
        .withColumn("dense_rank", F.row_number().over(w_dense))
        .filter(F.col("dense_rank") <= leg_k)
        .select("query_id", "doc_id", "dense_rank")
    )

    # ---- fusion: micro-unit reciprocal ranks, BIGINT sum ----
    rr = lambda c: F.when(  # noqa: E731
        F.col(c).isNotNull(),
        F.round(F.lit(float(_MICRO)) / (F.lit(rrf_k) + F.col(c)))
        .cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    fused = (
        bm25.join(dense, ["query_id", "doc_id"], "full_outer")
        .withColumn("rrf_micro", rr("bm25_rank") + rr("dense_rank"))
    )
    w_out = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w_out))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "bm25_rank",
            "dense_rank",
            F.round(F.col("rrf_micro") / F.lit(float(_MICRO)), 6).alias(
                "score"
            ),
        )
    )


def _hex_nibble(col, pos: int):
    """Value 0–15 of the ``pos``-th (1-based) hex char of ``col``."""
    return F.instr(
        F.lit("0123456789abcdef"), F.substring(col, pos, 1)
    ) - F.lit(1)


def md5_bucket(col, n_buckets: int):
    """Deterministic, engine-portable hash bucket of a string column.

    First 4 md5 nibbles → 0..65535, mod ``n_buckets`` — uniform when
    ``n_buckets`` divides 65536. md5 (not xxhash64) so external
    engines reproduce the exact assignment; the DuckDB oracle ships
    the same expression.
    """
    digest = F.md5(col)
    v = F.lit(0)
    for pos in (1, 2, 3, 4):
        v = v * F.lit(16) + _hex_nibble(digest, pos)
    return v % F.lit(n_buckets)


def md5_long(col) -> "F.Column":
    """Portable 60-bit integer hash of a string: first 15 md5 nibbles.

    Spark: ``conv(substring(md5(s),1,15),16,10)`` — DuckDB mirrors it
    with ``('0x' || substring(md5(s),1,15))::BIGINT`` (verified
    bit-identical). Used where a shuffle key must be both compact
    (long, not the raw string) and reproducible by the oracle engine
    — xxhash64 is Spark-only.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tfidf_near_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs by **TF-IDF-weighted cosine** over word
    shingles — the weighted complement of the Jaccard family
    (:func:`sqltask_spark.operators.dedup.ngram_jaccard_pairs`): rare
    shared shingles count more than boilerplate ones, and shingle
    multiplicity matters.

    Pipeline: shingle multiset per doc → portable 60-bit shingle keys
    (:func:`md5_long` — longs through every shuffle, oracle-
    reproducible) → per-(doc, shingle) tf → df census → centi-unit
    fixed-point weights ``w = round(tf·idf·100)`` → inverted-index
    self-join accumulating ``dot = Σ w_a·w_b`` as integers → cosine
    against integer-exact norms. All cross-partition sums are BIGINT,
    so the result is bit-stable under any partitioning; products stay
    below 2^53 for any realistic document (w ≤ ~10^5, shingles ≤
    ~10^4 → Σw² ≤ 10^14), so the oracle's HUGEINT→double conversion
    is exact.

    ``max_shingle_df`` drops shingles whose document frequency
    exceeds the cap from the vector space entirely (weights AND
    norms) — principled stopword-shingle removal: those features
    carry near-zero idf but quadratic join cost. At 100 TB the cap is
    mandatory (same boilerplate blowup as the Jaccard index); one hot
    shingle shared by k docs costs O(k²) pairs.
    """
    from sqltask_spark.data import (
        ensure_min_partitions,
        materialize_and_release,
    )
    from sqltask_spark.operators.dedup import word_shingles

    inv0 = ensure_min_partitions(docs).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("s"),
    ).select("id", md5_long(F.col("s")).alias("sh"))
    tf = (
        inv0.groupBy("id", "sh")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    try:
        stats = docs.agg(F.count(F.lit(1)).alias("n_docs"))
        idf = (
            F.log(
                (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
            )
            + F.lit(1.0)
        )
        if max_shingle_df is not None:
            # CAPPED MODE — one shingle-keyed exchange (r12, guide
            # §2.4; the ngram_jaccard_pairs shape): df comes from a
            # count window over ``sh`` (identical to the groupBy
            # census — tf rows are one per (id, sh)), the cap filter
            # runs BEFORE any array materialization, and the weighted
            # postings pair up IN-PARTITION via a same-key
            # collect_list (≤ cap entries per shingle) instead of an
            # SMJ self-join. Removes the df-census exchange, the SMJ
            # df join and the self-join sorts.
            wnd = Window.partitionBy("sh")
            w = (
                tf.withColumn("df", F.count(F.lit(1)).over(wnd))
                .filter(F.col("df") <= F.lit(max_shingle_df))
                .crossJoin(F.broadcast(stats))
                .select(
                    "id",
                    "sh",
                    F.round(F.col("tf") * idf * F.lit(100.0))
                    .cast("long")
                    .alias("w"),
                )
            )
            norms = w.groupBy("id").agg(
                F.sum(F.col("w") * F.col("w")).alias("n2")
            )
            buckets = (
                w.groupBy("sh")
                .agg(
                    F.collect_list(F.struct("id", "w")).alias("ps")
                )
                .filter(F.size("ps") >= 2)
            )
            pairs = (
                buckets.select(
                    F.explode(
                        F.filter(
                            F.flatten(
                                F.transform(
                                    F.col("ps"),
                                    lambda a: F.transform(
                                        F.col("ps"),
                                        lambda b: F.struct(
                                            a["id"].alias("id_a"),
                                            b["id"].alias("id_b"),
                                            (a["w"] * b["w"]).alias(
                                                "ww"
                                            ),
                                        ),
                                    ),
                                )
                            ),
                            lambda s: s["id_a"] < s["id_b"],
                        )
                    ).alias("p")
                )
                .groupBy(
                    F.col("p.id_a").alias("id_a"),
                    F.col("p.id_b").alias("id_b"),
                )
                .agg(F.sum("p.ww").alias("dot"))
            )
        else:
            # EXACT MODE — unbounded per-shingle df: keep the SMJ
            # self-join (AQE skew-split applies; no bucket arrays).
            dfc = tf.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            w = (
                tf.join(dfc.hint("merge"), "sh")
                .crossJoin(F.broadcast(stats))
                .select(
                    "id",
                    "sh",
                    F.round(F.col("tf") * idf * F.lit(100.0))
                    .cast("long")
                    .alias("w"),
                )
            )
            norms = w.groupBy("id").agg(
                F.sum(F.col("w") * F.col("w")).alias("n2")
            )
            a, b = w.alias("a"), w.alias("b")
            pairs = (
                a.join(b.hint("merge"), "sh")
                .filter(F.col("a.id") < F.col("b.id"))
                .groupBy(
                    F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"),
                )
                .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
            )
        na = norms.select(
            F.col("id").alias("id_a"), F.col("n2").alias("n2_a")
        )
        nb = norms.select(
            F.col("id").alias("id_b"), F.col("n2").alias("n2_b")
        )
        cos = F.col("dot") / (
            F.sqrt(F.col("n2_a")) * F.sqrt(F.col("n2_b"))
        )
        out = (
            pairs.join(na, "id_a")
            .join(nb, "id_b")
            .filter(cos >= F.lit(threshold))
            .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        )
        return materialize_and_release(out, tf)
    except BaseException:
        tf.unpersist()
        raise


def hashed_tfidf(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Sparse hashed TF-IDF document vectors in long (COO) format.

    Returns one row per non-zero vector component:
    ``(doc_id, bucket, n_terms, weight)`` where ``bucket`` is the
    md5-hash feature index, ``n_terms`` counts distinct terms that
    collided into the bucket, and ``weight`` is the summed
    tf·idf mass (idf = ln((N+1)/(df+1)) + 1, smooth).

    Long format deliberately: it is the join-able shape (sparse dot
    products are an equi-join on ``bucket``), it shuffles only
    non-zeros, and — unlike an ``array`` column — it is hashable by
    the driver's row canonicalizer, so the entry stays oracle-checked.

    Weights are fixed-point micro-unit sums (order-independent).
    """
    from sqltask_spark.data import ensure_min_partitions

    base = ensure_min_partitions(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tx.tokenize(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    tf = base.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"))

    idf = (
        F.log(
            (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
        )
        + F.lit(1.0)
    )
    weighted = (
        tf.join(dfc.hint("merge"), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            md5_bucket(F.col("term"), n_buckets).alias("bucket"),
            F.round(F.col("tf") * idf * F.lit(float(_MICRO)))
            .cast("long")
            .alias("w_micro"),
        )
    )
    return (
        weighted.groupBy("doc_id", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("w_micro").alias("w_micro"),
        )
        .select(
            "doc_id",
            "bucket",
            "n_terms",
            F.round(F.col("w_micro") / F.lit(float(_MICRO)), 6).alias(
                "weight"
            ),
        )
    )


def tfidf_dense_vectors(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """L2-normalized dense hashed-TF-IDF vectors
    ``(doc_id, vec: array<double>)`` — the clustering/embedding-free
    similarity feature. Small ``n_buckets`` (default 64) because the
    dense form is meant for k-means-style geometry, not exact
    retrieval; the sparse long form (:func:`hashed_tfidf`) is the
    scale path for joins."""
    sparse = hashed_tfidf(
        docs, id_col=id_col, text_col=text_col, n_buckets=n_buckets
    )
    as_map = sparse.groupBy("doc_id").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("bucket", "weight"))
            )
        ).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("m"), i.cast("int")), F.lit(0.0)
        ),
    )
    norm = F.sqrt(
        F.aggregate(
            dense, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    return as_map.select(
        "doc_id",
        F.when(norm > 0, F.transform(dense, lambda x: x / norm))
        .otherwise(dense)
        .alias("vec"),
    )


def topic_clusters(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_clusters: int = 8,
    n_buckets: int = 64,
    top_terms: int = 5,
    sample_cap: int = 4096,
    kmeans_iters: int = 8,
) -> DataFrame:
    """Embedding-free corpus topic map: spherical k-means over
    hashed-TF-IDF vectors, summarized as
    ``(cluster_id, n_docs, top_terms)``.

    Reuses the IVF coarse quantizer machinery
    (:func:`sqltask_spark.operators.similarity._spherical_kmeans`):
    bounded hash-ordered driver sample → Lloyd on the driver →
    broadcast centroid argmax assignment. The per-cluster term
    summary joins the corpus tokens to the assignment and takes the
    ``top_terms`` most frequent terms per cluster (count desc, term
    asc — deterministic).

    Scale: vectorization is two shuffles (term census + doc-bucket
    agg); assignment is a broadcast matmul-free fold over 64 dims;
    the summary is one explode-join-agg. Engine-specific float
    geometry (k-means) ⇒ no SQL oracle; semantics are pytest-covered
    on a planted two-topic corpus.
    """
    from sqltask_spark.operators.similarity import (
        _sample_matrix,
        _spherical_kmeans,
    )

    vecs = tfidf_dense_vectors(
        docs, id_col=id_col, text_col=text_col, n_buckets=n_buckets
    )
    vecs = vecs.persist()
    try:
        sample = _sample_matrix(vecs, "doc_id", "vec", sample_cap)
        cents = _spherical_kmeans(sample, n_clusters, kmeans_iters)
        # argmax over ≤ n_clusters dot products; vectors are unit so
        # cosine ≡ dot. Plan-time-constant centroid literals, short
        # fold per centroid (64 adds) — stays JVM-side.
        best_c, best_s = F.lit(0), F.lit(-2.0)
        for c_id, cent in enumerate(cents):
            dot = F.aggregate(
                F.zip_with(
                    F.col("vec"),
                    F.array(*[F.lit(float(x)) for x in cent]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            take = dot > best_s
            best_c = F.when(take, F.lit(c_id)).otherwise(best_c)
            best_s = F.when(take, dot).otherwise(best_s)
        assign = vecs.select("doc_id", best_c.alias("cluster_id"))

        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tx.tokenize(F.col(text_col))).alias("term"),
        ).filter(F.col("term") != "")
        term_counts = (
            toks.join(assign, "doc_id")
            .groupBy("cluster_id", "term")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("cnt").desc(), F.col("term")
        )
        tops = (
            term_counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_terms)
            .groupBy("cluster_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("rn", "term"))
                ).alias("ranked")
            )
            .select(
                "cluster_id",
                F.array_join(
                    F.transform(F.col("ranked"), lambda s: s["term"]),
                    " ",
                ).alias("top_terms"),
            )
        )
        sizes = assign.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n_docs")
        )
        out = sizes.join(tops, "cluster_id").select(
            "cluster_id", "n_docs", "top_terms"
        ).orderBy("cluster_id")
        from sqltask_spark.data import materialize_and_release

        return materialize_and_release(out, vecs)
    except BaseException:
        vecs.unpersist()
        raise
