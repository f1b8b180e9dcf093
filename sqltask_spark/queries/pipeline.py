"""Training-data pipeline queries over the ``documents`` table.

The operations a large-scale LLM data pipeline runs between raw
corpus and tokenized shards, each expressed as JVM-side column
algebra with a DuckDB oracle:

- deterministic train/eval **split** (content-hash bucketing — the
  only split that survives re-partitioning, backfills, and replicas);
- **vocabulary** construction (token frequency top-k);
- **sequence packing** (documents → fixed-token-budget packs via a
  running-sum bin assignment, the shuffle-free approximation of
  greedy packing);
- **corpus cleaning** (length floor → quality floor → exact-dup
  removal in one pass);
- **contamination** screening (train docs sharing n-gram shingles
  with an eval set — the standard benchmark-leakage check).

Scale shapes: split/packing/cleaning are single-pass projections or
one window/agg per shard key; vocabulary is one explode + count
(map-side combined); contamination is an inverted-index equi-join
whose explode is bounded by shingle count, with the same hot-shingle
cap story as :func:`sqltask_spark.operators.dedup.ngram_jaccard_pairs`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sqltask_spark.data import load_table
from sqltask_spark.operators import text as tx
from sqltask_spark.operators.dedup import word_shingles
from sqltask_spark.queries.textops import _NORM, _SHINGLES, _STOP_SQL, _TOKS

_TRAIN_PCT = 90


# --------------------------------------------------------------------------
# split_train_eval — content-hash split: bucket = 2 bytes of
# md5(doc_id) mod 100. Hash-based (not random, not modulo-id) so the
# assignment is stable under any repartitioning/backfill and
# reproducible by ANY engine with md5 — which is also why the oracle
# can verify it. Zero shuffle: pure projection.
# --------------------------------------------------------------------------

def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.col("doc_id").cast("string"))
    bucket = F.pmod(
        F.ascii(F.substring(digest, 1, 1)) * 256
        + F.ascii(F.substring(digest, 2, 1)),
        F.lit(100),
    )
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < _TRAIN_PCT, F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    ).orderBy("doc_id")


_SPLIT_SQL = f"""
SELECT
  doc_id,
  (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
   + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS bucket,
  CASE WHEN (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
             + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100
            < {_TRAIN_PCT}
       THEN 'train' ELSE 'eval' END AS split
FROM documents
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# vocab_top_tokens — token-frequency vocabulary head. One explode +
# one map-side-combined count; top-k via ordered limit
# (TakeOrderedAndProject — no global sort even on a billion-token
# vocabulary).
# --------------------------------------------------------------------------

_VOCAB_K = 50


def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tx.tokenize(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(_VOCAB_K)
    )


_VOCAB_SQL = f"""
SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, UNNEST({_TOKS}) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT {_VOCAB_K}
"""


# --------------------------------------------------------------------------
# pack_sequences — fixed-budget sequence packing: within each source
# shard (the physical partitioning key at scale), documents are laid
# out in doc_id order and cut into packs every `capacity` tokens
# using the running total BEFORE each document. One window per shard,
# no cross-shard coordination — the deterministic, shuffle-minimal
# approximation of greedy first-fit packing.
# --------------------------------------------------------------------------

_PACK_CAPACITY = 512


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = tx.token_count(F.col("text"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn(
            "pack_id",
            F.floor(cum_before.cast("double") / F.lit(float(_PACK_CAPACITY))),
        )
        .orderBy("source", "doc_id")
    )


_PACK_SQL = f"""
SELECT
  doc_id, source, n_tokens,
  CAST(FLOOR(CAST(cum_before AS DOUBLE) / {_PACK_CAPACITY}.0) AS BIGINT)
    AS pack_id
FROM (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS cum_before
  FROM (SELECT doc_id, source, LEN({_TOKS}) AS n_tokens FROM documents)
)
ORDER BY source, doc_id
"""


# --------------------------------------------------------------------------
# corpus_clean_pipeline — the standard cleaning cascade in ONE pass
# over the corpus: length floor → quality floor → exact-duplicate
# removal (keep lowest doc_id per content fingerprint). Filters are
# pure projections; the dedup is the only shuffle (on the md5 digest
# — uniform key, no skew).
# --------------------------------------------------------------------------

_MIN_CHARS = 50
_MIN_QUALITY = 0.5


def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") >= _MIN_CHARS
    )
    scored = docs.select(
        "doc_id",
        F.round(tx.quality_score(F.col("text")), 9).alias("quality"),
        F.md5(tx.normalize_text(F.col("text"))).alias("fingerprint"),
    ).filter(F.col("quality") >= _MIN_QUALITY)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "quality")
        .orderBy("doc_id")
    )


_CLEAN_SQL = f"""
WITH scored AS (
  SELECT
    doc_id,
    ROUND(
      (CAST(LEN(list_distinct({_TOKS})) AS DOUBLE) / LEN({_TOKS})) * 0.5
      + LEAST(CAST(LEN({_TOKS}) AS DOUBLE) / 100.0, 1.0) * 0.3
      + (1.0 - CAST(LEN(list_filter({_TOKS},
            t -> list_contains({_STOP_SQL['en']}, t))) AS DOUBLE)
          / LEN({_TOKS})) * 0.2,
      9) AS quality,
    md5({_NORM}) AS fingerprint
  FROM documents
  WHERE n_chars >= {_MIN_CHARS}
)
SELECT doc_id, quality
FROM (
  SELECT doc_id, quality,
         ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM scored
  WHERE quality >= {_MIN_QUALITY}
)
WHERE rn = 1
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# contamination_overlap — benchmark-leakage screen: training documents
# sharing ≥ K distinct 3-gram shingles with any eval document (the
# eval set here: doc_id ≡ 0 mod 10). Inverted-index equi-join on the
# shingle — O(total shingles) explode, never all-pairs. Hot-shingle
# posting lists are capped (df filter BEFORE collect_set, same
# technique as ngram_jaccard_pairs' max_shingle_df): one boilerplate
# shingle ("terms of service apply") appearing in millions of docs
# would otherwise make a single group's train×eval explode quadratic.
# A shingle above the cap carries ~no leakage signal anyway — every
# pair it would vote for still needs _MIN_SHARED rarer shingles.
# --------------------------------------------------------------------------

_MIN_SHARED = 5
_MAX_SHINGLE_DF = 50


def contamination_overlap(
    spark: SparkSession, sf_dir: str, max_shingle_df: int | None = _MAX_SHINGLE_DF
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The shingle is hashed to a long AT THE EXPLODE: the inverted
    # index, the df cap window, and the posting groupBy all carry 8 bytes
    # instead of 3-gram text (~3-5x). A collision merges two shingles'
    # postings (undercounts n_shared by at most the collision count) —
    # at 2^64 that's ~1e-9 for any realistic shingle vocabulary, and
    # the oracle cross-check would surface it.
    inv = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), 3))
        ).alias("sh_str"),
    ).select("doc_id", F.xxhash64("sh_str").alias("shingle"))
    # Hot-shingle cap: drop shingles above the cap BEFORE any posting
    # list is materialized — bounding both the collect_set buffers and
    # the train×eval explode at <= cap² rows per shingle. A count
    # window over the shingle key (drop_hot_buckets) replaces the
    # former df-census groupBy + equi-join: identical df semantics
    # (count per shingle over the per-doc-distinct index), but the
    # census and the cap share ONE exchange — and it is the very
    # exchange the posting groupBy below needs, so capped mode adds
    # no shuffle at all (guide §2.4). This also retires the persist:
    # the shingling pass now has exactly one consumer.
    if max_shingle_df is not None:
        from sqltask_spark.operators.bucketing import drop_hot_buckets

        inv = drop_hot_buckets(inv, ["shingle"], max_shingle_df)
    # Single-scan shape: instead of self-joining two filtered reads of
    # the inverted index (which computes the shingling twice), group
    # each shingle's posting list ONCE, split it into train/eval sides
    # with conditional collect_sets, and explode the per-shingle cross
    # product. Each (shingle → train×eval) contributes one row per
    # pair, and shingles are the group key, so the per-pair COUNT(*)
    # IS the distinct-shingle overlap — no countDistinct shuffle.
    postings = (
        inv.groupBy("shingle")
        .agg(
            F.collect_set(
                F.when(F.pmod("doc_id", F.lit(10)) != 0, F.col("doc_id"))
            ).alias("train_ids"),
            F.collect_set(
                F.when(F.pmod("doc_id", F.lit(10)) == 0, F.col("doc_id"))
            ).alias("eval_ids"),
        )
        .filter((F.size("train_ids") > 0) & (F.size("eval_ids") > 0))
    )
    pairs = postings.select(
        F.explode("train_ids").alias("train_id"), "eval_ids"
    ).select("train_id", F.explode("eval_ids").alias("eval_id"))
    out = (
        pairs.groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _MIN_SHARED)
        .orderBy("train_id", "eval_id")
    )
    return out


_CONTAM_SQL = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, {_SHINGLES} AS shingles FROM documents
), inv0 AS MATERIALIZED (
  SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
), inv AS (
  -- same hot-shingle df cap as the Spark side (explicit join, not
  -- IN: DuckDB plans the IN form as a correlated probe here)
  SELECT i.doc_id, i.shingle
  FROM inv0 i
  JOIN (SELECT shingle FROM inv0
        GROUP BY shingle HAVING COUNT(*) <= {_MAX_SHINGLE_DF}) ok
    ON i.shingle = ok.shingle
)
SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
       COUNT(DISTINCT t.shingle) AS n_shared
FROM inv t
JOIN inv e ON t.shingle = e.shingle
WHERE t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
GROUP BY 1, 2
HAVING COUNT(DISTINCT t.shingle) >= {_MIN_SHARED}
ORDER BY train_id, eval_id
"""


# --------------------------------------------------------------------------
# dedup_incremental — dedupe NEW data against an existing corpus:
# the every-crawl-cycle op. New docs (odd doc_id here) survive only
# if their content fingerprint is absent from the reference corpus
# (even doc_id) AND they are the first holder of that fingerprint
# within the new batch. One left-anti join on a uniform digest key +
# one first-wins window — both shuffle-safe at any scale, no text
# moves (fingerprints only).
# --------------------------------------------------------------------------

def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(tx.normalize_text(F.col("text"))).alias("fingerprint")
    new = docs.filter(F.pmod("doc_id", F.lit(2)) == 1).select("doc_id", fp)
    ref = docs.filter(F.pmod("doc_id", F.lit(2)) == 0).select(fp)
    survived = new.join(ref, "fingerprint", "left_anti")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        survived.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


_INCR_SQL = f"""
WITH fp AS (
  SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents
), new_docs AS (
  SELECT doc_id, fingerprint FROM fp WHERE doc_id % 2 = 1
), ref AS (
  SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 2 = 0
)
SELECT doc_id, fingerprint
FROM (
  SELECT n.doc_id, n.fingerprint,
         ROW_NUMBER() OVER (PARTITION BY n.fingerprint
                            ORDER BY n.doc_id) AS rn
  FROM new_docs n
  WHERE NOT EXISTS (SELECT 1 FROM ref r
                    WHERE r.fingerprint = n.fingerprint)
)
WHERE rn = 1
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# materialize_packs — the second half of sequence packing: group the
# documents of each (source, pack_id) into one training row with a
# document separator, in deterministic doc_id order. collect_list has
# no ordering guarantee under shuffle, so texts are collected as
# (doc_id, text) structs and sort_array'd before joining — the
# standard Spark idiom for ordered aggregation. One groupBy per
# shard+pack; pack sizes are bounded by the packing capacity, so no
# group can blow up.
# --------------------------------------------------------------------------

_PACK_SEP = " <doc> "


def materialize_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = tx.token_count(F.col("text"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    assigned = docs.select(
        "doc_id", "source", "text", n_tokens.alias("n_tokens")
    ).withColumn(
        "pack_id",
        F.floor(cum_before.cast("double") / F.lit(float(_PACK_CAPACITY))),
    )
    packed = (
        assigned.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "text"))
                    ),
                    lambda s: s["text"],
                ),
                _PACK_SEP,
            ).alias("packed_text"),
        )
    )
    return packed.orderBy("source", "pack_id")


_PACKMAT_SQL = f"""
WITH assigned AS (
  SELECT doc_id, source, text, n_tokens,
         CAST(FLOOR(CAST(
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens
           AS DOUBLE) / {_PACK_CAPACITY}.0) AS BIGINT) AS pack_id
  FROM (SELECT doc_id, source, text, LEN({_TOKS}) AS n_tokens
        FROM documents)
)
SELECT
  source, pack_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  string_agg(text, '{_PACK_SEP}' ORDER BY doc_id) AS packed_text
FROM assigned
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


# --------------------------------------------------------------------------
# stratified_sample_documents — per-language stratified sampling via
# content hashing: KEEP when the doc's hash bucket falls below the
# stratum's rate. Unlike rng-based sampleBy, the selection is a pure
# function of the row — reproducible across engines (hence the
# oracle), stable under re-partitioning, and join-free. The standard
# way to rebalance language mix in a training corpus.
# --------------------------------------------------------------------------

_STRATUM_PCT = {"en": 80, "de": 50, "es": 50, "zh": 20}
_DEFAULT_PCT = 10


def stratified_sample_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.col("doc_id").cast("string"))
    bucket = F.pmod(
        F.ascii(F.substring(digest, 3, 1)) * 256
        + F.ascii(F.substring(digest, 4, 1)),
        F.lit(100),
    )
    rate = F.lit(_DEFAULT_PCT)
    for lang, pct in sorted(_STRATUM_PCT.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


_STRAT_CASE = " ".join(
    f"WHEN '{lang}' THEN {pct}" for lang, pct in sorted(_STRATUM_PCT.items())
)

_STRAT_SQL = f"""
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) * 256
          + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 4, 1))) % 100
           AS bucket
  FROM documents
)
WHERE bucket < CASE lang {_STRAT_CASE} ELSE {_DEFAULT_PCT} END
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# sketch_event_stats — the approximate-aggregate surface for corpus
# telemetry at 100 TB: HyperLogLog++ distinct counts and quantile
# sketches run in one pass with O(sketch) memory per group, where the
# exact forms need a shuffle per distinct key. Sketch encodings are
# engine-specific, so this entry is rows-only for the driver; the
# error bounds against exact answers are pytest-asserted
# (tests/test_operators.py::test_sketch_event_stats_error_bounds).
# --------------------------------------------------------------------------

def sketch_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # One quantile sketch per group, projected to SCALAR columns —
    # the driver's pandas canonicalizer sorts every output column, so
    # catalog entries must never expose array cells (r5 lesson: the
    # array<double> form crashed the gate's sort_values).
    sketched = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias(
            "approx_users"
        ),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias(
            "_vq"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    return sketched.select(
        "event_type",
        "approx_users",
        F.col("_vq")[0].alias("value_p50"),
        F.col("_vq")[1].alias("value_p95"),
        F.col("_vq")[2].alias("value_p99"),
        "n_events",
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# sketch_event_stats_checked — the ORACLED certificate for the sketch
# entry above: joins the sketches against their exact counterparts and
# emits bound-check booleans alongside the exact aggregates. DuckDB
# cannot reproduce Spark's HLL/KLL sketch values, but it CAN assert
# the contract — the oracle emits the exact sides plus TRUE flags, so
# if Spark's sketches ever drift outside their documented error
# bounds the booleans flip and the driver hash mismatches. The exact
# countDistinct/percentile here are harness-only costs (this entry
# certifies the sketches; production telemetry uses
# sketch_event_stats, which never computes the exact forms).
# --------------------------------------------------------------------------

def sketch_event_stats_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ex = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr("percentile(value, 0.4)").alias("_p40"),
        F.expr("percentile(value, 0.6)").alias("_p60"),
    )
    sk = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_au"),
        F.percentile_approx("value", 0.5, 10000).alias("_p50"),
    )
    # Flags are pinned to non-NULL booleans (ADVICE r6): a group with
    # all-NULL `value` makes both the exact percentile and the sketch
    # NULL — the contract holds vacuously (TRUE, matching the oracle's
    # constant) rather than surfacing as a confusing NULL-hash
    # mismatch; any OTHER NULL (one side null, the other not) is a
    # genuine anomaly and fails as FALSE.
    hll_ok = F.coalesce(
        F.abs(F.col("_au").cast("double") - F.col("exact_users"))
        <= F.greatest(F.lit(3.0), F.col("exact_users") * 0.1),
        F.lit(False),
    )
    p50_ok = F.when(
        F.col("_p40").isNull() & F.col("_p50").isNull(), F.lit(True)
    ).otherwise(
        F.coalesce(
            (F.col("_p50") >= F.col("_p40"))
            & (F.col("_p50") <= F.col("_p60")),
            F.lit(False),
        )
    )
    return (
        ex.join(sk, "event_type")
        .select(
            "event_type",
            "n_events",
            "exact_users",
            hll_ok.alias("hll_ok"),
            p50_ok.alias("p50_ok"),
        )
        .orderBy("event_type")
    )


_SKETCH_CHECKED_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_ok,
       TRUE AS p50_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# domain_mix_weights — domain-rebalancing weights: per-source token
# totals, each source's share of the corpus, and the sampling weight
# that would equalize the token mixture across sources
# (target_share / actual_share — the static form of DoReMi-style
# domain reweighting). One map-side-combined agg over the corpus;
# the corpus totals come from a second 1-row aggregate broadcast-
# joined back onto the per-source rows (NOT a partition-less window —
# see the inline note; the catalog-wide no-global-window invariant in
# tests/test_plans.py holds unconditionally). Shares are ratios of
# exact integer sums, so both engines compute bit-identical doubles.
# --------------------------------------------------------------------------

def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tx.token_count(F.col("text"))).alias("n_tokens"),
    )
    # corpus totals as a 1-row broadcast join, NOT a partition-less
    # window: the window form funnels the relation through one task —
    # harmless on a per-source aggregate, but expressing it as
    # agg+broadcast keeps the catalog's "no global window anywhere"
    # invariant unconditional (tests/test_plans.py)
    tot = per.agg(
        F.sum("n_tokens").alias("_tot_tokens"),
        F.count(F.lit(1)).alias("_n_sources"),
    )
    share = F.col("n_tokens") / F.col("_tot_tokens")
    target = F.lit(1.0) / F.col("_n_sources")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(share, 9).alias("token_share"),
            F.round(target / share, 9).alias("sample_weight"),
        )
        .orderBy("source")
    )


_MIX_SQL = f"""
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(LEN({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
)
SELECT
  source, n_docs, n_tokens,
  ROUND(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 9)
    AS token_share,
  ROUND((1.0 / COUNT(*) OVER ())
          / (CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()), 9)
    AS sample_weight
FROM per
ORDER BY source
"""


# --------------------------------------------------------------------------
# corpus_shuffle_shards — deterministic global example shuffle: every
# training run needs the corpus in a reproducible pseudo-random order,
# stable under repartitioning and backfills (an rng-based orderBy is
# neither). Order key = md5 of a salted doc_id; shard = 2 hash bytes
# mod n_shards; position = rank within the shard. At scale a shard is
# one bounded training file and n_shards grows with the corpus (n /
# n_shards ≈ file size), so the per-shard sort stays task-sized — the
# small constant here is for oracle-sized data, not the design point.
# --------------------------------------------------------------------------

_N_SHARDS = 16


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.alias("skey")).withColumn(
        "shard",
        F.pmod(
            F.ascii(F.substring("skey", 1, 1)) * 256
            + F.ascii(F.substring("skey", 2, 1)),
            F.lit(_N_SHARDS),
        ),
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        keyed.withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


_SHUFFLE_SQL = f"""
WITH keyed AS (
  SELECT
    doc_id,
    md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS skey,
    (ascii(substring(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 1)) * 256
     + ascii(substring(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 2, 1)))
      % {_N_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS pos
FROM keyed
ORDER BY shard, pos
"""


# --------------------------------------------------------------------------
# corpus_to_training_data — the flagship END-TO-END composition: raw
# corpus → length floor → quality floor → exact dedup (keep lowest
# id) → content-hash train split → per-source sequence packing →
# per-pack summary. Every stage is an operator that also ships
# standalone (corpus_clean_pipeline / split_train_eval /
# pack_sequences); chained here they stay ONE lazy Catalyst plan —
# filters fuse into the scan, the dedup is the only corpus-wide
# shuffle (uniform digest key), the pack window runs per source
# shard, and the summary agg shares the (source,...) clustering. The
# oracle composes the same stages as SQL CTEs, so the whole pipeline
# is hash-checked end-to-end, not just stage-by-stage.
# --------------------------------------------------------------------------

def corpus_to_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") >= _MIN_CHARS
    )
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        F.round(tx.quality_score(F.col("text")), 9).alias("quality"),
        F.md5(tx.normalize_text(F.col("text"))).alias("fingerprint"),
    ).filter(F.col("quality") >= _MIN_QUALITY)
    w_dup = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        scored.withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        .drop("rn", "fingerprint", "quality")
    )
    digest = F.md5(F.col("doc_id").cast("string"))
    bucket = F.pmod(
        F.ascii(F.substring(digest, 1, 1)) * 256
        + F.ascii(F.substring(digest, 2, 1)),
        F.lit(100),
    )
    train = deduped.filter(bucket < _TRAIN_PCT).select(
        "doc_id", "source", tx.token_count(F.col("text")).alias("n_tokens")
    )
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w_pack) - F.col("n_tokens")
    packed = train.withColumn(
        "pack_id",
        F.floor(cum_before.cast("double") / F.lit(float(_PACK_CAPACITY))),
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source", "pack_id")
    )


_E2E_SQL = f"""
WITH scored AS (
  SELECT
    doc_id, source, text,
    ROUND(
      (CAST(LEN(list_distinct({_TOKS})) AS DOUBLE) / LEN({_TOKS})) * 0.5
      + LEAST(CAST(LEN({_TOKS}) AS DOUBLE) / 100.0, 1.0) * 0.3
      + (1.0 - CAST(LEN(list_filter({_TOKS},
            t -> list_contains({_STOP_SQL['en']}, t))) AS DOUBLE)
          / LEN({_TOKS})) * 0.2,
      9) AS quality,
    md5({_NORM}) AS fingerprint
  FROM documents
  WHERE n_chars >= {_MIN_CHARS}
), deduped AS (
  SELECT doc_id, source, text
  FROM (
    SELECT doc_id, source, text,
           ROW_NUMBER() OVER (PARTITION BY fingerprint
                              ORDER BY doc_id) AS rn
    FROM scored
    WHERE quality >= {_MIN_QUALITY}
  )
  WHERE rn = 1
), train AS (
  SELECT doc_id, source, LEN({_TOKS}) AS n_tokens
  FROM deduped
  WHERE (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
         + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100
        < {_TRAIN_PCT}
), packed AS (
  SELECT doc_id, source, n_tokens,
         CAST(FLOOR(CAST(
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens
           AS DOUBLE) / {_PACK_CAPACITY}.0) AS BIGINT) AS pack_id
  FROM train
)
SELECT
  source, pack_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  MIN(doc_id) AS min_doc_id,
  MAX(doc_id) AS max_doc_id
FROM packed
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


# --------------------------------------------------------------------------
# corpus_to_training_data_v2 — the end-to-end recipe WITH fuzzy
# decontamination: clean cascade → exact dedup → hash split → drop
# every train document whose md5-MinHash screen matches ANY eval
# document (contamination_fuzzy's pair set — leakage is about eval
# CONTENT, so the screen runs on the raw corpus, not the cleaned
# subset: a train doc that paraphrases a low-quality eval doc is
# still leakage) → per-source greedy packing. One composed DataFrame
# program; the oracle replays the whole thing, contamination chain
# included, via the shared _CONTAM_BODY CTE.
# --------------------------------------------------------------------------


def corpus_to_training_data_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sqltask_spark.operators.dedup import (
        minhash_contamination_pairs_md5,
    )
    from sqltask_spark.queries.textops import (
        _CONTAM_THRESHOLD,
        _CONTAM_TRAIN_PCT,
        _MH_BANDS,
        _MH_CAP,
        _MH_PERM,
        _MH_SEED,
    )

    docs_all = load_table(spark, sf_dir, "documents")
    digest_all = F.md5(F.col("doc_id").cast("string"))
    bucket_all = F.pmod(
        F.ascii(F.substring(digest_all, 1, 1)) * 256
        + F.ascii(F.substring(digest_all, 2, 1)),
        F.lit(100),
    )
    sided = docs_all.withColumn(
        "_side",
        F.when(bucket_all < _CONTAM_TRAIN_PCT, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    contaminated = (
        minhash_contamination_pairs_md5(
            sided,
            "doc_id",
            "text",
            "_side",
            num_perm=_MH_PERM,
            bands=_MH_BANDS,
            seed=_MH_SEED,
            max_bucket_size=_MH_CAP,
            threshold=_CONTAM_THRESHOLD,
        )
        .select(F.col("index_id").alias("doc_id"))
        .distinct()
    )

    docs = docs_all.filter(F.col("n_chars") >= _MIN_CHARS)
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        F.round(tx.quality_score(F.col("text")), 9).alias("quality"),
        F.md5(tx.normalize_text(F.col("text"))).alias("fingerprint"),
    ).filter(F.col("quality") >= _MIN_QUALITY)
    w_dup = Window.partitionBy("fingerprint").orderBy("doc_id")
    deduped = (
        scored.withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        .drop("rn", "fingerprint", "quality")
    )
    digest = F.md5(F.col("doc_id").cast("string"))
    bucket = F.pmod(
        F.ascii(F.substring(digest, 1, 1)) * 256
        + F.ascii(F.substring(digest, 2, 1)),
        F.lit(100),
    )
    train = (
        deduped.filter(bucket < _TRAIN_PCT)
        .join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            "source",
            tx.token_count(F.col("text")).alias("n_tokens"),
        )
    )
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum("n_tokens").over(w_pack) - F.col("n_tokens")
    packed = train.withColumn(
        "pack_id",
        F.floor(cum_before.cast("double") / F.lit(float(_PACK_CAPACITY))),
    )
    return (
        packed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source", "pack_id")
    )


def _e2e_v2_sql() -> str:
    from sqltask_spark.queries.textops import _CONTAM_BODY

    return f"""
WITH {_CONTAM_BODY},
q_scored AS (
  SELECT
    doc_id, source, text,
    ROUND(
      (CAST(LEN(list_distinct({_TOKS})) AS DOUBLE) / LEN({_TOKS})) * 0.5
      + LEAST(CAST(LEN({_TOKS}) AS DOUBLE) / 100.0, 1.0) * 0.3
      + (1.0 - CAST(LEN(list_filter({_TOKS},
            t -> list_contains({_STOP_SQL['en']}, t))) AS DOUBLE)
          / LEN({_TOKS})) * 0.2,
      9) AS quality,
    md5({_NORM}) AS fingerprint
  FROM documents
  WHERE n_chars >= {_MIN_CHARS}
), deduped AS (
  SELECT doc_id, source, text
  FROM (
    SELECT doc_id, source, text,
           ROW_NUMBER() OVER (PARTITION BY fingerprint
                              ORDER BY doc_id) AS rn
    FROM q_scored
    WHERE quality >= {_MIN_QUALITY}
  )
  WHERE rn = 1
), train AS (
  SELECT doc_id, source, LEN({_TOKS}) AS n_tokens
  FROM deduped
  WHERE (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
         + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100
        < {_TRAIN_PCT}
    AND doc_id NOT IN (SELECT DISTINCT train_id FROM contam)
), packed AS (
  SELECT doc_id, source, n_tokens,
         CAST(FLOOR(CAST(
           SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens
           AS DOUBLE) / {_PACK_CAPACITY}.0) AS BIGINT) AS pack_id
  FROM train
)
SELECT
  source, pack_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  MIN(doc_id) AS min_doc_id,
  MAX(doc_id) AS max_doc_id
FROM packed
GROUP BY source, pack_id
ORDER BY source, pack_id
"""


# --------------------------------------------------------------------------
# length_histogram — per-source token-length distribution in fixed-
# width buckets: the planning input for sequence packing (capacity
# choice), truncation policy, and domain mixing (length skew between
# sources biases any token-budgeted mix). One projection + one
# map-side-combined agg; the share window runs over the AGGREGATED
# rows only (sources × buckets), never the corpus.
# --------------------------------------------------------------------------

_HIST_WIDTH = 64


def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = tx.token_count(F.col("text"))
    bucketed = docs.select(
        "source",
        (F.floor(n_tok / _HIST_WIDTH).cast("int") * _HIST_WIDTH).alias(
            "bucket_lo"
        ),
        n_tok.alias("n_tokens"),
    )
    agg = bucketed.groupBy("source", "bucket_lo").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    w = Window.partitionBy("source")
    return agg.select(
        "source",
        "bucket_lo",
        "n_docs",
        "total_tokens",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w), 9
        ).alias("doc_share"),
    ).orderBy("source", "bucket_lo")


_HIST_SQL = f"""
WITH b AS (
  SELECT
    source,
    CAST(FLOOR(LEN({_TOKS}) / {_HIST_WIDTH}.0) AS INT) * {_HIST_WIDTH}
      AS bucket_lo,
    LEN({_TOKS}) AS n_tokens
  FROM documents
), agg AS (
  SELECT source, bucket_lo,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM b GROUP BY source, bucket_lo
)
SELECT source, bucket_lo, n_docs, total_tokens,
       ROUND(CAST(n_docs AS DOUBLE)
               / SUM(n_docs) OVER (PARTITION BY source), 9) AS doc_share
FROM agg
ORDER BY source, bucket_lo
"""


# --------------------------------------------------------------------------
# apply_mix_sampling — MATERIALIZE the domain mix: turn
# domain_mix_weights' equalizing per-source weights into an actual
# resampled corpus. A document's copy count is floor(weight) plus a
# deterministic Bernoulli on the fractional part (md5-bucket of the
# doc id vs a fixed-point integer threshold — portable across
# engines, stable under repartitioning/backfill, no RNG), so
# overrepresented sources down-sample and underrepresented ones
# up-sample by repetition — the standard DoReMi-style static mix.
# Scale shape: one vocabulary-of-sources agg, broadcast back, one
# filter + bounded explode; no shuffle of the corpus at all.
# --------------------------------------------------------------------------

def apply_mix_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(tx.token_count(F.col("text"))).alias("n_tokens")
    )
    # totals via 1-row broadcast, not a partition-less window (same
    # rationale as domain_mix_weights — keeps the catalog's global-
    # window invariant unconditional)
    tot = per.agg(
        F.sum("n_tokens").alias("_tot_tokens"),
        F.count(F.lit(1)).alias("_n_sources"),
    )
    share = F.col("n_tokens") / F.col("_tot_tokens")
    target = F.lit(1.0) / F.col("_n_sources")
    weights = per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(target / share).cast("long").alias("base_copies"),
        F.round(
            ((target / share) - F.floor(target / share)) * F.lit(65536)
        )
        .cast("long")
        .alias("frac_thr"),
    )
    digest = F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    bucket = (
        F.ascii(F.substring(digest, 5, 1)) * 256
        + F.ascii(F.substring(digest, 6, 1))
    )
    n_copies = F.col("base_copies") + F.when(
        bucket < F.col("frac_thr"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(weights), "source")
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(1), F.col("n_copies").cast("int"))
            ).alias("copy_idx"),
        )
        .orderBy("doc_id", "copy_idx")
    )


_APPLY_MIX_SQL = f"""
WITH per AS (
  SELECT source, CAST(SUM(LEN({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), wts AS (
  SELECT source,
         CAST(FLOOR(w) AS BIGINT) AS base_copies,
         CAST(ROUND((w - FLOOR(w)) * 65536) AS BIGINT) AS frac_thr
  FROM (
    SELECT source,
           (1.0 / COUNT(*) OVER ())
             / (CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER ()) AS w
    FROM per
  )
), keyed AS (
  SELECT d.doc_id, d.source,
         base_copies
           + CASE WHEN
               ascii(substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)),
                               5, 1)) * 256
               + ascii(substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)),
                                 6, 1)) < frac_thr
             THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN wts USING (source)
)
SELECT doc_id, source, CAST(copy_idx AS INT) AS copy_idx
FROM keyed, UNNEST(generate_series(1, CAST(n_copies AS INT)))
       AS t(copy_idx)
WHERE n_copies > 0
ORDER BY doc_id, copy_idx
"""


# --------------------------------------------------------------------------
# ccnet_ppl_buckets — the CCNet selection step (Wenzek et al. 2020):
# per-language perplexity TERCILES split the corpus into head (most
# fluent) / middle / tail buckets; downstream pipelines keep head+
# middle or reweight by bucket. Composes the fixed-point corpus LM
# (oracle-hashable scores) with exact interpolated percentiles
# (Spark `percentile` ≡ DuckDB `quantile_cont`, verified by
# winsorized_event_stats).
# --------------------------------------------------------------------------

_TERCILES = (0.3333333333333333, 0.6666666666666666)


def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = tx.bigram_lm_nll(docs, "doc_id", "text").select(
        "doc_id", "ppl"
    )
    scored = scored.join(docs.select("doc_id", "lang"), "doc_id")
    # Cuts rounded to a fixed decimal before the bucket compare:
    # Spark `percentile` and DuckDB `quantile_cont` share the
    # interpolation FORMULA but not a bit-identical evaluation order,
    # so a ppl landing exactly on an unrounded cut could flip
    # head/middle between engines. 4 decimals matches ppl's own
    # rounding granularity and swamps any ~1e-15 formula divergence.
    cuts = scored.groupBy("lang").agg(
        F.round(
            F.expr(f"percentile(ppl, {_TERCILES[0]!r})"), 4
        ).alias("t1"),
        F.round(
            F.expr(f"percentile(ppl, {_TERCILES[1]!r})"), 4
        ).alias("t2"),
    )
    bucket = (
        F.when(F.col("ppl") <= F.col("t1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .select("doc_id", "lang", "ppl", bucket.alias("bucket"))
        .orderBy("doc_id")
    )


_CCNET_SQL = None  # assigned below (needs textops.LM_BODY_SQL)


def _ccnet_sql() -> str:
    from sqltask_spark.queries.textops import LM_BODY_SQL

    return f"""
WITH {LM_BODY_SQL},
scored AS (
  SELECT lm.doc_id, lm.ppl, d.lang
  FROM lm JOIN documents d ON d.doc_id = lm.doc_id
),
cuts AS (
  SELECT lang,
         ROUND(quantile_cont(ppl, {_TERCILES[0]!r}), 4) AS t1,
         ROUND(quantile_cont(ppl, {_TERCILES[1]!r}), 4) AS t2
  FROM scored GROUP BY lang
)
SELECT doc_id, s.lang, ppl,
       CASE WHEN ppl <= t1 THEN 'head'
            WHEN ppl <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s JOIN cuts c ON s.lang = c.lang
ORDER BY doc_id
"""


_CCNET_SQL = _ccnet_sql()


# --------------------------------------------------------------------------
# sample_k_per_source — EXACT-k stratified sampling: the k docs per
# stratum with the smallest md5(doc_id) — deterministic, engine-
# portable (any md5 engine draws the identical sample), stable under
# repartitioning/backfill, and — unlike fraction-based sampling
# (stratified_sample_documents) — guaranteed exactly min(k, |stratum|)
# rows per stratum. One window per stratum; Spark plans the rank
# filter as a partial top-k before the shuffle (WindowGroupLimit), so
# the shuffle carries ~k rows per stratum, not the stratum.
# --------------------------------------------------------------------------

_SAMPLE_K = 5


def sample_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).alias("draw")
        )
        .filter(F.col("draw") <= _SAMPLE_K)
        .orderBy("source", "draw")
    )


_SAMPLE_K_SQL = f"""
SELECT source, doc_id, draw FROM (
  SELECT source, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS INTEGER) AS draw
  FROM documents
)
WHERE draw <= {_SAMPLE_K}
ORDER BY source, draw
"""


# --------------------------------------------------------------------------
# eval_ngram_coverage — graded memorization-risk score per EVAL doc:
# the fraction of its distinct 3-gram shingles that occur anywhere in
# the train split. Complements contamination_overlap (binary pair
# screen with a shared-shingle floor): coverage is the continuous
# per-document signal an eval-integrity report ranks by — 1.0 means
# the eval doc is fully reconstructible from train n-grams even when
# no single train doc clears the pair threshold.
#
# Scale shape: one shingle pass; the train side is DEDUPED to
# distinct shingles before the join, so the left join matches ≤1 row
# per eval shingle (no pair blowup — the join output is exactly the
# eval shingle stream). A pathologically hot shingle key concentrates
# only that shingle's EVAL rows on one reducer (bounded by the eval
# split); salting applies if a real corpus needs it.
# --------------------------------------------------------------------------

def eval_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), 3))
        ).alias("shingle"),
    )
    train_sh = (
        sh.filter(F.col("doc_id") % 10 != 0)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    eval_sh = sh.filter(F.col("doc_id") % 10 == 0)
    return (
        eval_sh.join(train_sh, "shingle", "left")
        .groupBy(F.col("doc_id").alias("eval_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("_hit", F.lit(0)))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "eval_id",
            "n_shingles",
            "n_covered",
            F.expr("(n_covered * 1000000) div n_shingles")
            .cast("long")
            .alias("coverage_micro"),
        )
        .orderBy("eval_id")
    )


_COVERAGE_SQL = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, UNNEST({_SHINGLES}) AS shingle FROM documents
), tr AS MATERIALIZED (
  SELECT DISTINCT shingle FROM sh
  WHERE doc_id % 10 <> 0 AND shingle IS NOT NULL
)
SELECT s.doc_id AS eval_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(t.shingle) AS BIGINT) AS n_covered,
       CAST((COUNT(t.shingle) * 1000000) // COUNT(*) AS BIGINT)
         AS coverage_micro
FROM sh s LEFT JOIN tr t ON s.shingle = t.shingle
WHERE s.doc_id % 10 = 0
GROUP BY s.doc_id
ORDER BY eval_id
"""


# --------------------------------------------------------------------------
# corpus_diff_snapshot — dataset-versioning reconciliation between two
# corpus snapshots: ONE full-outer equi-join on doc_id comparing
# content fingerprints classifies every document as unchanged /
# modified / added / removed, aggregated to per-status doc and token
# totals. The "next crawl" snapshot is derived deterministically from
# the documents table (removals: doc_id % 11 = 3; in-place edits:
# doc_id % 13 = 5; additions: a derivative per doc_id % 17 = 2) so the
# oracle replays it exactly — the operator under test is the
# reconciliation join, the corpus-diff primitive every incremental
# training-data pipeline runs before deciding what to re-process.
#
# Scale shape: two scans + one shuffle join on the UNIQUE doc_id (no
# skew by construction), map-side-combined aggregate to 4 rows.
# Fingerprint comparison is null-safe (a NULL-text doc equals itself).
# Added ids live in a provably disjoint keyspace — doc_id offset by
# max(doc_id)+1 (a 1-row broadcast, replayed by the oracle as a
# scalar subquery) — so an added id can never collide with a
# surviving id and silently merge two documents into one "modified"
# row (ADVICE r7: the old fixed 10M offset assumed doc_id < 10M).
# --------------------------------------------------------------------------


def corpus_diff_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_tok = F.coalesce(tx.token_count(F.col("text")), F.lit(0))
    old = docs.select(
        "doc_id",
        tx.fingerprint_md5(F.col("text")).alias("fp_old"),
        n_tok.cast("long").alias("tok_old"),
        F.lit(1).alias("_o"),
    )
    survived = docs.filter(F.col("doc_id") % 11 != 3)
    edited = F.when(
        F.col("doc_id") % 13 == 5,
        F.concat(F.col("text"), F.lit(" updated")),
    ).otherwise(F.col("text"))
    add_base = docs.agg((F.max("doc_id") + 1).alias("_add_base"))
    added = (
        docs.filter(F.col("doc_id") % 17 == 2)
        .crossJoin(F.broadcast(add_base))
        .select(
            (F.col("doc_id") + F.col("_add_base")).alias("doc_id"),
            F.concat(F.lit("new revision "), F.col("text")).alias("text"),
        )
    )
    new = survived.select("doc_id", edited.alias("text")).unionByName(
        added
    )
    newp = new.select(
        "doc_id",
        tx.fingerprint_md5(F.col("text")).alias("fp_new"),
        F.coalesce(tx.token_count(F.col("text")), F.lit(0))
        .cast("long")
        .alias("tok_new"),
        F.lit(1).alias("_n"),
    )
    status = (
        F.when(F.col("_n").isNull(), F.lit("removed"))
        .when(F.col("_o").isNull(), F.lit("added"))
        .when(
            F.col("fp_old").eqNullSafe(F.col("fp_new")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("modified"))
    )
    return (
        old.join(newp, "doc_id", "full_outer")
        .select(
            status.alias("status"),
            F.coalesce("tok_old", F.lit(0)).alias("t_old"),
            F.coalesce("tok_new", F.lit(0)).alias("t_new"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t_old").cast("long").alias("n_tokens_old"),
            F.sum("t_new").cast("long").alias("n_tokens_new"),
        )
        .orderBy("status")
    )


_DIFF_SQL = f"""
WITH old AS (
  SELECT doc_id, md5({_NORM}) AS fp_old,
         CAST(COALESCE(LEN({_TOKS}), 0) AS BIGINT) AS tok_old,
         1 AS _o
  FROM documents
), newdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 5 THEN text || ' updated'
              ELSE text END AS text
  FROM documents WHERE doc_id % 11 <> 3
  UNION ALL
  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id,
         'new revision ' || text AS text
  FROM documents WHERE doc_id % 17 = 2
), newp AS (
  SELECT doc_id, md5({_NORM}) AS fp_new,
         CAST(COALESCE(LEN({_TOKS}), 0) AS BIGINT) AS tok_new,
         1 AS _n
  FROM newdocs
), j AS (
  SELECT CASE WHEN n._n IS NULL THEN 'removed'
              WHEN o._o IS NULL THEN 'added'
              WHEN o.fp_old IS NOT DISTINCT FROM n.fp_new
                THEN 'unchanged'
              ELSE 'modified' END AS status,
         COALESCE(o.tok_old, 0) AS t_old,
         COALESCE(n.tok_new, 0) AS t_new
  FROM old o FULL OUTER JOIN newp n USING (doc_id)
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(t_old) AS BIGINT) AS n_tokens_old,
       CAST(SUM(t_new) AS BIGINT) AS n_tokens_new
FROM j GROUP BY status ORDER BY status
"""


# --------------------------------------------------------------------------
# weighted_sample_wor — deterministic weighted sampling WITHOUT
# replacement (Efraimidis–Spirakis 2006 exponential keys): each doc
# gets key = ln(u)/w with u a deterministic md5-derived uniform and
# w its token count; the k largest keys are exactly a weighted
# without-replacement draw. Complements pps_sample_documents: PPS is
# a SYSTEMATIC design (selection ∝ size along a fixed layout axis),
# E-S is the per-item-independent draw a shard-parallel sampler wants
# (any subset of the corpus can be scored without global state; a
# cross-shard merge of per-shard top-k is the global sample).
#
# Engine portability: u = (md5_60bit(doc_id)+1)/(2^60+1) — the same
# 60-bit md5 construction the dedup family pins cross-engine; the key
# is rounded to MICRO units (ROUND(ln(u)·1e6 / w)) so the hash
# compares integers. Micro — not the pico the r7 version used — is a
# deliberate boundary-safety margin (VERDICT r7 #2): the double value
# ln(u)·s/w can differ between libm (DuckDB) and Java Math.log
# (Spark) by up to ~2 ulp of ln(u) ≈ 1.4e-14, i.e. ≤ 1.4e-8/w key
# units at s=1e6 but ≤ 1.4e-2/w at s=1e12 — a pico key sits six
# decades closer to a .5 ROUND boundary flip. The canary pytest
# (test_weighted_sample_key_boundary_margin) measures every shipped
# doc's distance to its nearest boundary and fails if any key drifts
# boundary-fragile. The quantum trades RESOLUTION for that safety:
# keys span ~41.6e6/w micro units, so the draw is E-S-faithful while
# w ≪ 1e6 (at w ~ 1e4 there are still ~4000 distinct key values —
# ample for a top-200 draw) but would degenerate to doc_id
# tie-breaking for ~1e6-token documents; the canary pytest pins the
# shipped corpora inside the valid regime (max w ≤ 1e4), and a
# corpus of book-length documents should scale the quantum with its
# weight range rather than silently inheriting this one. Ties at
# equal micro keys break by doc_id identically on both engines.
# Top-k is
# orderBy().limit() = TakeOrderedAndProject: per-partition heaps, K
# rows per partition to the driver merge — no global sort, no window.
# --------------------------------------------------------------------------

_WSAMPLE_K = 200


def weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    base = docs.select(
        "doc_id",
        tx.token_count(F.col("text")).cast("long").alias("n_tokens"),
        h.alias("h"),
    ).filter(F.col("n_tokens") >= 1)
    u = (F.col("h") + F.lit(1)).cast("double") / F.lit(
        float((1 << 60) + 1)
    )
    key = (
        F.round(F.log(u) * F.lit(1e6) / F.col("n_tokens"))
        .cast("long")
        .alias("es_key_micro")
    )
    return (
        base.select("doc_id", "n_tokens", key)
        .orderBy(F.desc("es_key_micro"), "doc_id")
        .limit(_WSAMPLE_K)
    )


_WSAMPLE_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST(LEN({_TOKS}) AS BIGINT) AS n_tokens,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM documents
  WHERE LEN({_TOKS}) >= 1
)
SELECT doc_id, n_tokens,
       CAST(ROUND(LN((h + 1) / {float((1 << 60) + 1)!r})
                  * 1e6 / n_tokens) AS BIGINT) AS es_key_micro
FROM base
ORDER BY es_key_micro DESC, doc_id
LIMIT {_WSAMPLE_K}
"""


# --------------------------------------------------------------------------
# pps_sample_documents — systematic probability-proportional-to-size
# sampling by TOKEN MASS: lay the corpus out in doc_id order, drop k
# equally-spaced checkpoints on the cumulative token axis, and select
# the document containing each checkpoint. A document's selection
# probability is ∝ its token count (the PPS property training-data
# subsampling wants: sampling documents uniformly under-represents
# long documents per token), the draw is deterministic — repartition/
# backfill stable, no RNG — and the math is ALL BIGINT (doc selected
# iff floor(cum·k/total) > floor(cum_before·k/total)), so the oracle
# reproduces the exact selection. One window cumsum + a 1-row total
# broadcast; zero-token documents are never selected.
# --------------------------------------------------------------------------

_PPS_K = 200


def pps_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sqltask_spark.data import materialize_and_release
    from sqltask_spark.operators.prefix import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = tx.token_count(F.col("text"))
    base = docs.select(
        "doc_id", "source", n_tokens.cast("long").alias("n_tokens")
    )
    # distributed two-phase prefix sum — NOT an unpartitioned window
    # (which would funnel the corpus through one task at scale)
    summed, cached = global_prefix_sum(
        base, "doc_id", "n_tokens", out_col="cum", return_cached=True
    )
    with_cum = summed.withColumn(
        "cum_before", F.col("cum") - F.col("n_tokens")
    )
    total = base.agg(F.sum("n_tokens").alias("total"))
    # INTEGER division (not double): floor(cum*k/total) via `div` is
    # exact for any corpus size (double division drifts past 2^53 —
    # cum*k reaches 2e16 at 100 TB), and positive-operand `div`
    # equals floor on both engines.
    ckpt = F.expr(f"cum * {_PPS_K} div total")
    ckpt_before = F.expr(f"cum_before * {_PPS_K} div total")
    sel = with_cum.crossJoin(F.broadcast(total)).filter(
        ckpt > ckpt_before
    )
    out = sel.select(
        "doc_id",
        "source",
        "n_tokens",
        ckpt.cast("long").alias("checkpoint"),
    ).orderBy("doc_id")
    # ≤K rows — materialize them and free the corpus-sized cumsum cache
    return materialize_and_release(out, cached)


_PPS_SQL = f"""
WITH base AS (
  SELECT doc_id, source, CAST(LEN({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
cums AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM base
),
tot AS (SELECT SUM(n_tokens) AS total FROM base)
SELECT doc_id, source, n_tokens,
       CAST((cum * {_PPS_K}) // total AS BIGINT) AS checkpoint
FROM cums, tot
WHERE (cum * {_PPS_K}) // total > ((cum - n_tokens) * {_PPS_K}) // total
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# token_budget_select — greedy best-quality-first corpus selection up
# to a global token budget ("take the best 20% of the corpus by token
# mass"): rank documents by quality (desc, doc_id tiebreak), running
# token total in that order, select every document that STARTS before
# the budget line (the straddling document is included — the greedy
# fill rule, pinned by pytest). The running total rides the same
# distributed two-phase prefix sum as pps_sample_documents — never an
# unpartitioned window — over a STRING sort key
# lpad(1e9 − quality_micro)·'-'·lpad(doc_id) (no BIGINT packing that
# could overflow at large id spaces). Budget arithmetic is exact
# integer: total · PCT div 100. The oracle replays the identical key
# and rule with a plain window (single-node DuckDB can afford it —
# the Spark side is the one that has to scale).
# --------------------------------------------------------------------------

_BUDGET_PCT = 20


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sqltask_spark.data import materialize_and_release
    from sqltask_spark.operators.prefix import global_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    quality = F.round(tx.quality_score(F.col("text")), 9)
    # NULL-text pin: quality is NULL for a NULL document; without an
    # explicit rule the sort key would be NULL and the engines would
    # disagree on its position (Spark orders NULLS FIRST ascending,
    # DuckDB NULLS LAST). Rule: null docs rank WORST (inv = 10^9 + 1,
    # past every real quality) and weigh 0 tokens.
    qmicro = F.coalesce(
        F.round(quality * F.lit(1000000000.0)).cast("bigint"),
        F.lit(-1).cast("bigint"),
    )
    key = F.concat(
        F.lpad((F.lit(1000000000) - qmicro).cast("string"), 10, "0"),
        F.lit("-"),
        F.lpad(F.col("doc_id").cast("string"), 12, "0"),
    )
    base = docs.select(
        "doc_id",
        quality.alias("quality"),
        F.coalesce(
            tx.token_count(F.col("text")).cast("long"),
            F.lit(0).cast("long"),
        ).alias("n_tokens"),
        key.alias("qkey"),
    )
    summed, cached = global_prefix_sum(
        base, "qkey", "n_tokens", out_col="cum_tokens", return_cached=True
    )
    total = base.agg(F.sum("n_tokens").alias("total"))
    sel = summed.crossJoin(F.broadcast(total)).filter(
        F.col("cum_tokens") - F.col("n_tokens")
        < F.expr(f"total * {_BUDGET_PCT} div 100")
    )
    out = sel.select(
        "doc_id", "quality", "n_tokens", "cum_tokens"
    ).orderBy("cum_tokens", "doc_id")
    return materialize_and_release(out, cached)


_TOKEN_BUDGET_SQL = f"""
WITH base AS (
  SELECT
    doc_id,
    ROUND(
      (CAST(LEN(list_distinct({_TOKS})) AS DOUBLE) / LEN({_TOKS})) * 0.5
      + LEAST(CAST(LEN({_TOKS}) AS DOUBLE) / 100.0, 1.0) * 0.3
      + (1.0 - CAST(LEN(list_filter({_TOKS},
            t -> list_contains({_STOP_SQL['en']}, t))) AS DOUBLE)
          / LEN({_TOKS})) * 0.2,
      9) AS quality,
    COALESCE(CAST(LEN({_TOKS}) AS BIGINT), CAST(0 AS BIGINT))
      AS n_tokens
  FROM documents
),
keyed AS (
  SELECT doc_id, quality, n_tokens,
         lpad(CAST(1000000000
                   - COALESCE(CAST(ROUND(quality * 1000000000.0)
                                   AS BIGINT), -1)
                   AS VARCHAR), 10, '0')
         || '-' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS qkey
  FROM base
),
cums AS (
  SELECT doc_id, quality, n_tokens,
         SUM(n_tokens) OVER (ORDER BY qkey
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM keyed
),
tot AS (SELECT SUM(n_tokens) AS total FROM base)
SELECT doc_id, quality, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cums, tot
WHERE cum_tokens - n_tokens < (total * {_BUDGET_PCT}) // 100
ORDER BY cum_tokens, doc_id
"""


# --------------------------------------------------------------------------
# heavy_hitter_tokens — exact φ-heavy hitters (φ = 1/(k+1)) of the
# token stream via the Misra–Gries prune (operators/sketches.py):
# per-partition mergeable MG summaries → driver merge (≤ k·P tiny
# rows) → exact count of the ≤k candidates only. Never a
# full-vocabulary shuffle; output is exact and partition-layout
# independent (the sketch only PRUNES — MG guarantees candidates ⊇
# true heavies for any layout), which is why plain SQL can oracle it.
# --------------------------------------------------------------------------

_HH_K = 30


def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sqltask_spark.operators.sketches import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tx.tokenize(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters(toks, "token", k=_HH_K).withColumnRenamed(
        "item", "token"
    )


_HH_SQL = f"""
WITH tt AS (
  SELECT token
  FROM (SELECT UNNEST({_TOKS}) AS token FROM documents)
  WHERE token <> ''
),
tot AS (SELECT COUNT(*) AS n FROM tt)
SELECT token, COUNT(*) AS n_occurrences
FROM tt, tot
GROUP BY token, n
HAVING COUNT(*) * {_HH_K + 1} > n
ORDER BY n_occurrences DESC, token
"""


# --------------------------------------------------------------------------
# source_quality_cap — per-source QUALITY-RANKED cap (the RefinedWeb /
# CCNet "per-domain cap" selection policy): keep the K highest-quality
# documents from each source, deterministic tie-break on doc_id.
# Distinct from sample_k_per_source (which draws a hash-random sample
# — representative, quality-blind); this is the curation policy that
# stops one mega-domain from dominating a training mix while keeping
# its best pages. Same WindowGroupLimit shape as the sampler: Spark
# plans the rank filter as a partial top-k BEFORE the shuffle, so the
# exchange carries ~K rows per source, not the source's corpus.
# Ordering by the 9-dp-rounded quality + doc_id is the engine-portable
# pattern proven by dedup_keep_best at the sf1 gate.
# --------------------------------------------------------------------------

_SOURCE_CAP_K = 10


def source_quality_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        docs.select(
            "source",
            "doc_id",
            F.round(tx.quality_score(F.col("text")), 9).alias("quality"),
        )
        .withColumn("qrank", F.row_number().over(w))
        .filter(F.col("qrank") <= _SOURCE_CAP_K)
        .orderBy("source", "qrank")
    )


_SOURCE_CAP_SQL = f"""
SELECT source, doc_id, quality, qrank FROM (
  SELECT source, doc_id, quality,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY quality DESC, doc_id
         ) AS INTEGER) AS qrank
  FROM (
    SELECT source, doc_id,
      ROUND(
        (CAST(LEN(list_distinct({_TOKS})) AS DOUBLE) / LEN({_TOKS})) * 0.5
        + LEAST(CAST(LEN({_TOKS}) AS DOUBLE) / 100.0, 1.0) * 0.3
        + (1.0 - CAST(LEN(list_filter({_TOKS},
              t -> list_contains({_STOP_SQL['en']}, t))) AS DOUBLE)
            / LEN({_TOKS})) * 0.2,
        9) AS quality
    FROM documents
  )
)
WHERE qrank <= {_SOURCE_CAP_K}
ORDER BY source, qrank
"""


# --------------------------------------------------------------------------
# dsir_weights — DSIR-style importance weights for data selection
# (Xie et al. 2023): LM trained on the target subset (source='src1'
# stands in for the curated reference corpus) vs LM trained on the
# whole corpus; weight = exp(avg_nll_source − avg_nll_target). Both
# models are the fixed-point BigramLM artifact, so the two-model
# composition still hashes against the oracle, which replays the
# exact same left-join + add-one-backoff arithmetic in SQL.
# --------------------------------------------------------------------------

_DSIR_TARGET_SOURCE = "src1"


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == _DSIR_TARGET_SOURCE)
    return tx.dsir_importance_weights(
        docs, target, "doc_id", "text"
    ).orderBy("doc_id")


_DSIR_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, source, {_TOKS} AS t FROM documents
  WHERE LEN({_TOKS}) >= 2
),
bg AS MATERIALIZED (
  SELECT doc_id, source, t[i] AS prev, t[i] || ' ' || t[i+1] AS bigram
  FROM toks, UNNEST(generate_series(1, LEN(t) - 1)) AS u(i)
),
v_src AS (SELECT COUNT(DISTINCT tok) AS v
          FROM (SELECT UNNEST(t) AS tok FROM toks)),
v_tgt AS (SELECT COUNT(DISTINCT tok) AS v
          FROM (SELECT UNNEST(t) AS tok FROM toks
                WHERE source = '{_DSIR_TARGET_SOURCE}')),
bgc_src AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram),
ctx_src AS (SELECT prev, COUNT(*) AS c FROM bg GROUP BY prev),
bgc_tgt AS (SELECT bigram, COUNT(*) AS c FROM bg
            WHERE source = '{_DSIR_TARGET_SOURCE}' GROUP BY bigram),
ctx_tgt AS (SELECT prev, COUNT(*) AS c FROM bg
            WHERE source = '{_DSIR_TARGET_SOURCE}' GROUP BY prev),
q AS (
  SELECT bg.doc_id,
    CAST(ROUND(LN((COALESCE(bs.c, 0) + 1.0)
                  / (COALESCE(cs.c, 0) + v_src.v)) * 1000000.0)
         AS BIGINT) AS q_src,
    CAST(ROUND(LN((COALESCE(bt.c, 0) + 1.0)
                  / (COALESCE(ct.c, 0) + v_tgt.v)) * 1000000.0)
         AS BIGINT) AS q_tgt
  FROM bg
  LEFT JOIN bgc_src bs USING (bigram)
  LEFT JOIN ctx_src cs USING (prev)
  LEFT JOIN bgc_tgt bt USING (bigram)
  LEFT JOIN ctx_tgt ct USING (prev), v_src, v_tgt
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         SUM(q_src) AS sum_src, SUM(q_tgt) AS sum_tgt
  FROM q GROUP BY doc_id
),
scored AS (
  SELECT doc_id, n_bigrams,
         ROUND(-sum_src / (n_bigrams * 1000000.0), 6) AS nll_source,
         ROUND(-sum_tgt / (n_bigrams * 1000000.0), 6) AS nll_target
  FROM agg
)
SELECT doc_id, n_bigrams, nll_source, nll_target,
       ROUND(nll_source - nll_target, 6) AS log_ratio,
       ROUND(EXP(nll_source - nll_target), 6) AS weight
FROM scored
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# zorder_layout_stats — multi-dimensional data-skipping layout, made
# visible as a query: write events z-ordered by (user_id, event_id),
# read back the parquet row-group stats, and report the fraction of
# rows a reader skips for a 20%-box predicate on EACH dimension vs a
# round-robin baseline. Rows-only (the result summarizes a write
# artifact, not a relational computation); the layout math and the
# skipping proof are pytest-covered (tests/test_layout.py).
# --------------------------------------------------------------------------


_Z_BITS = 16


def zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED certificate for the z-order math itself: per-event
    cell ids (min-max scaled to 16 bits) and the Morton-interleaved
    z-value over (event_id, user_id) — pure integer/double arithmetic
    DuckDB reproduces bit-for-bit. `zorder_layout_stats` (the
    file-level skipping measurement) stays rows-only — row-group
    layout is engine-internal — but the curve that layout clusters by
    is hash-checked here.
    """
    from sqltask_spark.operators.layout import (
        _cell_id,
        morton_interleave,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id"
    )
    b = ev.agg(
        F.min("event_id").alias("mn_e"),
        F.max("event_id").alias("mx_e"),
        F.min("user_id").alias("mn_u"),
        F.max("user_id").alias("mx_u"),
    )
    with_bounds = ev.crossJoin(F.broadcast(b))
    ce = _cell_id(
        F.col("event_id"), F.col("mn_e"), F.col("mx_e"), _Z_BITS
    )
    cu = _cell_id(
        F.col("user_id"), F.col("mn_u"), F.col("mx_u"), _Z_BITS
    )
    return (
        with_bounds.select(
            "event_id",
            "user_id",
            ce.alias("cell_e"),
            cu.alias("cell_u"),
        )
        .withColumn(
            "zvalue",
            morton_interleave(
                [F.col("cell_e"), F.col("cell_u")], _Z_BITS
            ),
        )
        .orderBy("event_id")
    )


def _zorder_sql() -> str:
    qmax = float((1 << _Z_BITS) - 1)

    def cell(x: str, mn: str, mx: str) -> str:
        return (
            f"COALESCE(CAST(FLOOR(CASE WHEN CAST({mx} - {mn} AS DOUBLE)"
            f" > 0 THEN ((CAST({x} AS DOUBLE) - CAST({mn} AS DOUBLE))"
            f" / CAST({mx} - {mn} AS DOUBLE)) * {qmax!r}"
            f" ELSE 0.0 END) AS BIGINT), 0)"
        )

    # bit i of column j lands at i*2 + (1 - j): event (j=0) gets the
    # more significant slot per level — mirrors morton_interleave
    terms = " + ".join(
        f"(((cell_e >> {i}) & 1) << {i * 2 + 1})"
        f" + (((cell_u >> {i}) & 1) << {i * 2})"
        for i in range(_Z_BITS)
    )
    return f"""
WITH b AS (
  SELECT MIN(event_id) AS mn_e, MAX(event_id) AS mx_e,
         MIN(user_id) AS mn_u, MAX(user_id) AS mx_u
  FROM events
),
cells AS (
  SELECT event_id, user_id,
         {cell('event_id', 'mn_e', 'mx_e')} AS cell_e,
         {cell('user_id', 'mn_u', 'mx_u')} AS cell_u
  FROM events, b
)
SELECT event_id, user_id, cell_e, cell_u,
       CAST({terms} AS BIGINT) AS zvalue
FROM cells
ORDER BY event_id
"""


def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from sqltask_spark.operators.layout import (
        rowgroup_spans,
        skipped_fraction,
        zorder_write,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    bounds = ev.agg(
        F.min("event_id"), F.max("event_id"),
        F.min("user_id"), F.max("user_id"),
    ).collect()[0]
    boxes = {
        "event_id": (bounds[0] + (bounds[1] - bounds[0]) * 2 // 5,
                     bounds[0] + (bounds[1] - bounds[0]) * 3 // 5),
        "user_id": (bounds[2] + (bounds[3] - bounds[2]) * 2 // 5,
                    bounds[2] + (bounds[3] - bounds[2]) * 3 // 5),
    }
    tmp = tempfile.mkdtemp(prefix="zorder_stats_")
    try:
        rows = []
        for layout, write in (
            ("roundrobin", lambda p: ev.repartition(16).write.parquet(p)),
            ("zorder", lambda p: zorder_write(
                ev, p, by=["user_id", "event_id"], n_files=16
            )),
        ):
            path = f"{tmp}/{layout}"
            write(path)
            spans = rowgroup_spans(path, list(boxes))
            for col, (lo, hi) in boxes.items():
                rows.append(
                    (layout, col,
                     round(skipped_fraction(spans[col], lo, hi), 4))
                )
        return spark.createDataFrame(
            rows, "layout string, column string, skipped_fraction double"
        ).orderBy("layout", "column")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# source_token_quantiles — per-source document-length distribution
# (min / p25 / p50 / p90 / max token counts): the profiling step that
# precedes any per-domain length policy. EXACT percentiles are safe
# at scale HERE because the value domain is bounded: Spark's
# percentile aggregates a (value → count) histogram whose size is
# capped by the longest document, not the corpus — the aggregation
# state is mergeable and map-side combined. (For unbounded/continuous
# domains the scale path is approx_percentile's GK sketch, which is
# engine-specific and would make this rows-only.) Cross-engine: both
# engines use type-7 linear interpolation ((n-1)·q), probed
# bit-identical on the shipped corpora — see NOTES_r8.
# --------------------------------------------------------------------------

def source_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        tx.token_count(F.col("text")).cast("long").alias("w"),
    ).filter(F.col("w").isNotNull())
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("w").alias("min_tokens"),
            F.expr("percentile(w, 0.25)").alias("p25_tokens"),
            F.expr("percentile(w, 0.5)").alias("p50_tokens"),
            F.expr("percentile(w, 0.9)").alias("p90_tokens"),
            F.max("w").alias("max_tokens"),
        )
        .orderBy("source")
    )


_QUANTILES_SQL = f"""
WITH base AS (
  SELECT source, CAST(LEN({_TOKS}) AS BIGINT) AS w FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(w) AS BIGINT) AS min_tokens,
       quantile_cont(w, 0.25) AS p25_tokens,
       quantile_cont(w, 0.5) AS p50_tokens,
       quantile_cont(w, 0.9) AS p90_tokens,
       CAST(MAX(w) AS BIGINT) AS max_tokens
FROM base WHERE w IS NOT NULL
GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# source_token_quantiles_approx — the UNBOUNDED-domain scale path for
# the same profile: percentile_approx (Greenwald–Khanna sketch,
# accuracy 10000 → rank error ≤ n/10000). The exact entry's histogram
# state is bounded by max document length; for a continuous or
# open-ended metric (floating quality scores, latencies) the GK
# sketch is the right state, but its encoding is engine-specific —
# rows-only, TWINS → source_token_quantiles, with the rank-error
# contract pytest-verified against the exact sort
# (test_source_token_quantiles_approx_rank_bound).
# --------------------------------------------------------------------------

def source_token_quantiles_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        tx.token_count(F.col("text")).cast("long").alias("w"),
    ).filter(F.col("w").isNotNull())
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("w").alias("min_tokens"),
            F.expr("percentile_approx(w, 0.25, 10000)")
            .alias("p25_tokens"),
            F.expr("percentile_approx(w, 0.5, 10000)")
            .alias("p50_tokens"),
            F.expr("percentile_approx(w, 0.9, 10000)")
            .alias("p90_tokens"),
            F.max("w").alias("max_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# quality_filter_adaptive — per-domain ADAPTIVE length filtering: each
# source's own p10 token count becomes its floor (a fixed global
# floor over-prunes terse domains and under-prunes verbose ones —
# the per-domain-threshold shape CCNet applies to perplexity). Two
# passes over a pruned 2-column projection: histogram-state
# percentile per source, thresholds broadcast back (|sources| rows),
# map-side-combined verdict aggregate. No window, no corpus shuffle.
# --------------------------------------------------------------------------

def quality_filter_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        tx.token_count(F.col("text")).cast("long").alias("w"),
    ).filter(F.col("w").isNotNull())
    thr = base.groupBy("source").agg(
        F.expr("percentile(w, 0.10)").alias("thr_p10")
    )
    kept = F.col("w") >= F.col("thr_p10")
    return (
        base.join(F.broadcast(thr), "source")
        .groupBy("source", "thr_p10")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).cast("long").alias("n_kept"),
            F.sum("w").cast("long").alias("tokens_total"),
            F.sum(F.when(kept, F.col("w")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tokens_kept"),
        )
        .select(
            "source",
            "thr_p10",
            "n_docs",
            "n_kept",
            "tokens_total",
            "tokens_kept",
            F.expr("(n_kept * 1000000) div n_docs")
            .cast("long")
            .alias("kept_share_micro"),
        )
        .orderBy("source")
    )


_QFILTER_SQL = f"""
WITH base AS (
  SELECT source, CAST(LEN({_TOKS}) AS BIGINT) AS w FROM documents
), b2 AS (
  SELECT * FROM base WHERE w IS NOT NULL
), thr AS (
  SELECT source, quantile_cont(w, 0.10) AS thr_p10
  FROM b2 GROUP BY source
)
SELECT b2.source, thr.thr_p10,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN w >= thr_p10 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(w) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN w >= thr_p10 THEN w ELSE 0 END) AS BIGINT)
         AS tokens_kept,
       CAST((SUM(CASE WHEN w >= thr_p10 THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS kept_share_micro
FROM b2 JOIN thr ON b2.source = thr.source
GROUP BY b2.source, thr.thr_p10
ORDER BY b2.source
"""


# --------------------------------------------------------------------------
# source_overlap_matrix — the WHO-copies-WHOM companion to
# dup_rate_by_source: for every source pair sharing at least one
# exact fingerprint, the count of shared distinct fingerprints and
# the number of documents involved. This is the matrix a dedup
# policy is actually decided from (crawl B mirrors crawl A →
# drop B's copies wholesale; two curated sets overlap at 0.1% →
# doc-level dedup suffices). NULL-text documents are excluded — the
# '' sentinel fingerprint would otherwise fabricate an overlap
# between every pair of sources that each contain one empty doc.
#
# Scale shape: the self-join runs on the (source, fp) CENSUS, keyed
# by the uniform digest — per-fingerprint cost is (#sources holding
# it)², bounded by the source count squared, never by copies; output
# ≤ C(|sources|, 2) rows.
# --------------------------------------------------------------------------

def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    census = docs.select(
        "source", tx.fingerprint_md5(F.col("text")).alias("fp")
    ).groupBy("source", "fp").agg(F.count(F.lit(1)).alias("c"))
    a = census.select(
        F.col("source").alias("src_a"),
        "fp",
        F.col("c").alias("c_a"),
    )
    b = census.select(
        F.col("source").alias("src_b"),
        "fp",
        F.col("c").alias("c_b"),
    )
    return (
        a.join(b, "fp")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_fps"),
            F.sum(F.col("c_a") + F.col("c_b"))
            .cast("long")
            .alias("n_docs_involved"),
        )
        .orderBy("src_a", "src_b")
    )


_OVERLAP_SQL = f"""
WITH census AS (
  SELECT source, md5({_NORM}) AS fp, COUNT(*) AS c
  FROM documents WHERE text IS NOT NULL
  GROUP BY source, md5({_NORM})
)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_fps,
       CAST(SUM(a.c + b.c) AS BIGINT) AS n_docs_involved
FROM census a JOIN census b
  ON a.fp = b.fp AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY src_a, src_b
"""


# --------------------------------------------------------------------------
# source_unigram_entropy — per-source unigram Shannon entropy (the
# lexical-diversity signal behind domain-mixing and synthetic-data
# collapse detection: a domain whose entropy drops is repeating
# itself). Fixed-point milli-nats via the lm_perplexity discipline:
# H = ln N − (Σ c·ln c)/N, with each ln(c) rounded to an integer
# milli-nat FIRST so the corpus-sized sum is exact BIGINT arithmetic
# (order-free, shuffle-stable). Milli (not micro) bounds the sum:
# Σ c·ROUND(ln c·1e3) ≤ N·ln(N)·1e3 stays under 2^63 to N ≈ 1.7e14
# tokens (~600 TB of raw text); under ANSI mode a corpus past that
# fails loudly rather than silently wrapping. Quantization error is
# ≤ 0.5 milli-nat — noise for a diversity metric.
#
# Scale shape: one token census (map-side combined, shuffle is
# vocabulary-bounded), then a per-source aggregate of census rows.
# --------------------------------------------------------------------------

def source_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tx.tokenize(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    cen = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    q_milli = F.round(F.log("c") * F.lit(1e3)).cast("long")
    per = cen.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("c") * q_milli).cast("long").alias("s_milli"),
    )
    return per.select(
        "source",
        "n_tokens",
        "n_distinct",
        (
            F.round(F.log("n_tokens") * F.lit(1e3)).cast("long")
            - F.expr("s_milli div n_tokens")
        )
        .cast("long")
        .alias("entropy_millinat"),
    ).orderBy("source")


_ENTROPY_SQL = f"""
WITH toks AS (
  SELECT source, UNNEST({_TOKS}) AS tok FROM documents
), cen AS (
  SELECT source, tok, COUNT(*) AS c
  FROM toks WHERE tok <> '' GROUP BY source, tok
), per AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(SUM(c * CAST(ROUND(LN(c) * 1000) AS BIGINT)) AS BIGINT)
           AS s_milli
  FROM cen GROUP BY source
)
SELECT source, n_tokens, n_distinct,
       CAST(CAST(ROUND(LN(n_tokens) * 1000) AS BIGINT)
            - (s_milli // n_tokens) AS BIGINT) AS entropy_millinat
FROM per ORDER BY source
"""


# --------------------------------------------------------------------------
# dup_rate_by_source — per-domain duplication diagnostic: for each
# source, how many of its documents are exact duplicates (fingerprint
# shared with an earlier doc anywhere in the corpus) and how many
# participate in CROSS-source duplication (the copies-from-elsewhere
# signal that drives source-level dedup policy). NULL-text docs
# fingerprint to '' (mutual duplicates — the COALESCE-pinned NULL
# contract), so the per-source doc counts stay total.
#
# Scale shape: no corpus-sized join — one census groupBy
# (source, fp) on the uniform md5 digest, a fingerprint-level rollup
# of those census rows (keeper source via min_by on the unique
# doc_id), then a census×rollup equi-join on fp — both sides are
# census-sized (≤ one row per (source, fp)), never doc-sized.
# --------------------------------------------------------------------------

def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.coalesce(tx.fingerprint_md5(F.col("text")), F.lit(""))
    sfp = docs.select("source", "doc_id", fp.alias("fp"))
    census = sfp.groupBy("source", "fp").agg(
        F.count(F.lit(1)).alias("c"), F.min("doc_id").alias("min_doc")
    )
    fps = census.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_src"),
        F.min_by("source", "min_doc").alias("keeper_src"),
    )
    dup_c = F.col("c") - F.when(
        F.col("source") == F.col("keeper_src"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        census.join(fps, "fp")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_docs"),
            F.sum(dup_c).cast("long").alias("n_dup_docs"),
            F.sum(
                F.when(F.col("n_src") > 1, F.col("c")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_cross_docs"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "n_cross_docs",
            F.expr("(n_dup_docs * 1000000) div n_docs")
            .cast("long")
            .alias("dup_rate_micro"),
        )
        .orderBy("source")
    )


_DUP_RATE_SQL = f"""
WITH sfp AS (
  SELECT source, doc_id, COALESCE(md5({_NORM}), '') AS fp
  FROM documents
), census AS (
  SELECT source, fp, COUNT(*) AS c, MIN(doc_id) AS min_doc
  FROM sfp GROUP BY source, fp
), fps AS (
  SELECT fp, COUNT(*) AS n_src,
         arg_min(source, min_doc) AS keeper_src
  FROM census GROUP BY fp
)
SELECT census.source,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(SUM(c - CASE WHEN census.source = keeper_src
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(SUM(CASE WHEN n_src > 1 THEN c ELSE 0 END) AS BIGINT)
         AS n_cross_docs,
       CAST((SUM(c - CASE WHEN census.source = keeper_src
                          THEN 1 ELSE 0 END) * 1000000)
            // SUM(c) AS BIGINT) AS dup_rate_micro
FROM census JOIN fps USING (fp)
GROUP BY census.source
ORDER BY census.source
"""


# --------------------------------------------------------------------------
# contamination_bloom — decontamination via a BROADCAST Bloom filter,
# with its exact-join certificate riding in the output. The standard
# at-scale shape: the eval suite's shingle set compresses into a
# fixed-bits-per-element bitmap (10 bits/shingle → a benchmark suite
# of 1M shingles is ~1.25 MB — broadcastable to every executor), so
# screening 100 TB of train text is ONE map-side pass per shingle
# probe instead of a corpus×eval shuffle. Bloom guarantees NO false
# negatives (every inserted shingle hits), so the exact screen here
# exists only to certify the filter: n_false_neg is emitted as data
# and driver-hash-checked to zero every round, and n_false_pos /
# n_probe_shingles IS the measured fp rate of the (k=2, 10 bits/elem)
# configuration at each scale — the filter is sized from the
# eval-shingle cardinality (one bounded scalar), so the rate is
# scale-invariant instead of saturating as the corpus grows.
#
# Portability: positions derive from the md5-long family (probe j =
# md5("bl:j:" || shingle) mod m_bits), words pack 63 bits (bit 63
# would flip the BIGINT sign), build is bit_or over word groups —
# every step reproducible bit-for-bit in DuckDB.
# --------------------------------------------------------------------------

_BLOOM_BITS_PER_ELEM = 10
_BLOOM_K = 2
_BLOOM_WORD_BITS = 63


def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sqltask_spark.operators.retrieval import md5_long

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), 3))
        ).alias("s"),
    )
    # the eval-shingle set feeds three consumers (the sizing scalar,
    # the bitmap build, the exact-certificate marker join) — persist
    # it; it is eval-set-sized, small BY DEFINITION at any corpus
    # scale, and released once the result materializes
    eval_sh = (
        sh.filter(F.pmod("doc_id", F.lit(10)) == 0)
        .select("s")
        .distinct()
        .persist()
    )
    try:
        return _contamination_bloom_body(eval_sh, sh)
    except BaseException:  # release the cache on ANY failure path
        eval_sh.unpersist()
        raise


def _contamination_bloom_body(eval_sh: DataFrame, sh: DataFrame) -> DataFrame:
    from sqltask_spark.operators.retrieval import md5_long

    # the ONE bounded driver scalar: eval-shingle cardinality sizes the
    # filter (fixed bits-per-element keeps the fp rate scale-free)
    n_eval = eval_sh.count()
    n_words = max(
        64,
        -(-n_eval * _BLOOM_BITS_PER_ELEM // _BLOOM_WORD_BITS),
    )
    m_bits = n_words * _BLOOM_WORD_BITS

    def _positions(col):
        return [
            F.pmod(
                md5_long(F.concat(F.lit(f"bl:{j}:"), col)), F.lit(m_bits)
            )
            for j in range(_BLOOM_K)
        ]

    bloom = (
        eval_sh.select(
            F.explode(F.array(*_positions(F.col("s")))).alias("pos")
        )
        .select(
            F.expr(f"pos DIV {_BLOOM_WORD_BITS}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(pos % {_BLOOM_WORD_BITS} AS INT))"
            ).alias("bit_mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit_mask").alias("bits"))
    )
    probes = (
        sh.filter(F.pmod("doc_id", F.lit(10)) != 0)
        .select(
            "doc_id",
            "source",
            "s",
            F.explode(F.array(*_positions(F.col("s")))).alias("pos"),
        )
        .select(
            "doc_id",
            "source",
            "s",
            F.expr(f"pos DIV {_BLOOM_WORD_BITS}").alias("word"),
            F.pmod("pos", F.lit(_BLOOM_WORD_BITS)).cast("int").alias("bit"),
        )
    )
    per_sh = (
        probes.join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "hit",
            F.when(
                F.col("bits").isNotNull()
                & F.expr("(shiftright(bits, bit) & 1) = 1"),
                1,
            ).otherwise(0),
        )
        .groupBy("doc_id", "source", "s")
        .agg(
            (F.sum("hit") == F.lit(_BLOOM_K)).cast("int").alias("b")
        )
        # the exact screen: certificate only — at scale you'd skip it
        .join(eval_sh.withColumn("e_m", F.lit(1)), "s", "left")
        .select(
            "doc_id",
            "source",
            "b",
            F.coalesce("e_m", F.lit(0)).alias("e"),
        )
    )
    per_doc = per_sh.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.sum("b").alias("n_b"),
        F.sum("e").alias("n_e"),
        F.sum(
            F.when((F.col("e") == 1) & (F.col("b") == 0), 1).otherwise(0)
        ).alias("n_fn"),
    )
    from sqltask_spark.data import materialize_and_release

    out = (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.sum("n_sh").cast("long").alias("n_probe_shingles"),
            F.sum("n_b").cast("long").alias("n_bloom_hits"),
            F.sum("n_e").cast("long").alias("n_exact_hits"),
            (F.sum("n_b") - F.sum("n_e")).cast("long").alias("n_false_pos"),
            F.sum("n_fn").cast("long").alias("n_false_neg"),
            F.sum((F.col("n_b") >= _MIN_SHARED).cast("int"))
            .cast("long")
            .alias("n_flagged_bloom"),
            F.sum((F.col("n_e") >= _MIN_SHARED).cast("int"))
            .cast("long")
            .alias("n_flagged_exact"),
            F.lit(n_eval).cast("long").alias("n_eval_shingles"),
            F.lit(m_bits).cast("long").alias("m_bits"),
        )
        .orderBy("source")
    )
    return materialize_and_release(out, eval_sh)


def _bloom_sql() -> str:
    """DuckDB mirror of :func:`contamination_bloom` — same md5-long
    positions, 63-bit words, bit_or build, shift-and-mask probe."""
    from sqltask_spark.queries.textops import _md5long_sql

    w = _BLOOM_WORD_BITS

    def pos_expr(j: int) -> str:
        return (
            _md5long_sql(f"'bl:{j}:' || s") + " % (SELECT m_bits FROM dims)"
        )

    ev_pos = "\n  UNION ALL\n".join(
        f"  SELECT {pos_expr(j)} AS pos FROM ev" for j in range(_BLOOM_K)
    )
    pr_pos = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, source, s, {pos_expr(j)} AS pos FROM tr"
        for j in range(_BLOOM_K)
    )
    return f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, source, UNNEST({_SHINGLES}) AS s
  FROM documents WHERE text IS NOT NULL
), ev AS MATERIALIZED (
  SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0
), dims AS MATERIALIZED (
  SELECT GREATEST(64, ({_BLOOM_BITS_PER_ELEM} * COUNT(*) + {w - 1}) // {w})
           * {w} AS m_bits,
         COUNT(*) AS n_eval
  FROM ev
), tr AS MATERIALIZED (
  SELECT doc_id, source, s FROM sh WHERE doc_id % 10 <> 0
), evpos AS (
{ev_pos}
), bloom AS MATERIALIZED (
  SELECT pos // {w} AS word,
         bit_or(1::BIGINT << (pos % {w})::INT) AS bits
  FROM evpos GROUP BY 1
), pr AS (
{pr_pos}
), hits AS (
  SELECT p.doc_id, p.source, p.s,
         CASE WHEN b.bits IS NOT NULL
                   AND ((b.bits >> (p.pos % {w})::INT) & 1) = 1
              THEN 1 ELSE 0 END AS hit
  FROM pr p LEFT JOIN bloom b ON p.pos // {w} = b.word
), per_sh AS (
  SELECT h.doc_id, h.source, h.s,
         CASE WHEN SUM(h.hit) = {_BLOOM_K} THEN 1 ELSE 0 END AS b,
         CASE WHEN MAX(e.m) IS NULL THEN 0 ELSE 1 END AS e
  FROM hits h LEFT JOIN (SELECT s, 1 AS m FROM ev) e ON h.s = e.s
  GROUP BY h.doc_id, h.source, h.s
), per_doc AS (
  SELECT doc_id, source, COUNT(*) AS n_sh, SUM(b) AS n_b, SUM(e) AS n_e,
         SUM(CASE WHEN e = 1 AND b = 0 THEN 1 ELSE 0 END) AS n_fn
  FROM per_sh GROUP BY 1, 2
)
SELECT source,
       COUNT(*)::BIGINT AS n_train_docs,
       SUM(n_sh)::BIGINT AS n_probe_shingles,
       SUM(n_b)::BIGINT AS n_bloom_hits,
       SUM(n_e)::BIGINT AS n_exact_hits,
       (SUM(n_b) - SUM(n_e))::BIGINT AS n_false_pos,
       SUM(n_fn)::BIGINT AS n_false_neg,
       SUM(CASE WHEN n_b >= {_MIN_SHARED} THEN 1 ELSE 0 END)::BIGINT
         AS n_flagged_bloom,
       SUM(CASE WHEN n_e >= {_MIN_SHARED} THEN 1 ELSE 0 END)::BIGINT
         AS n_flagged_exact,
       (SELECT n_eval FROM dims)::BIGINT AS n_eval_shingles,
       (SELECT m_bits FROM dims)::BIGINT AS m_bits
FROM per_doc GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# source_length_drift — the TEXT-side distribution drift monitor,
# completing the drift family (ivf_occupancy_stats: index cells;
# embedding_drift_by_label: vector space; this: the raw corpus).
# Per source, the token-length histograms of snapshot A (even
# doc_id) and snapshot B (odd doc_id) are compared by L1 distance in
# integer micro units — a crawler change, a boilerplate injection,
# or a truncation bug shifts the length distribution before any
# quality score moves. All integer (per-bucket shares via exact DIV),
# and the census shuffle is bounded by sources × 2 × buckets, never
# corpus-sized.
# --------------------------------------------------------------------------

_LDRIFT_BUCKET_TOKENS = 50
_LDRIFT_MAX_BUCKET = 20


def source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    ntok = F.size(
        F.filter(tx.tokenize(F.col("text")), lambda t: t != F.lit(""))
    )
    bucketed = docs.select(
        "source",
        F.pmod("doc_id", F.lit(2)).alias("half"),
        F.least(
            (ntok.cast("long") - F.pmod(ntok, F.lit(_LDRIFT_BUCKET_TOKENS)))
            / F.lit(_LDRIFT_BUCKET_TOKENS),
            F.lit(float(_LDRIFT_MAX_BUCKET)),
        ).cast("long").alias("bucket"),
    )
    cen = bucketed.groupBy("source", "half", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cen.groupBy("source", "half").agg(F.sum("c").alias("n"))
    a = (
        cen.filter(F.col("half") == 0)
        .join(tot.filter(F.col("half") == 0).drop("half"), "source")
        .select(
            "source",
            "bucket",
            F.expr("c * 1000000 DIV n").alias("share_a"),
            F.col("n").alias("n_a"),
        )
    )
    b = (
        cen.filter(F.col("half") == 1)
        .join(tot.filter(F.col("half") == 1).drop("half"), "source")
        .select(
            "source",
            "bucket",
            F.expr("c * 1000000 DIV n").alias("share_b"),
            F.col("n").alias("n_b"),
        )
    )
    joined = a.join(b, ["source", "bucket"], "full_outer").select(
        "source",
        F.coalesce("share_a", F.lit(0)).alias("sa"),
        F.coalesce("share_b", F.lit(0)).alias("sb"),
        "n_a",
        "n_b",
    )
    return (
        joined.groupBy("source")
        .agg(
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(F.abs(F.col("sa") - F.col("sb")))
            .cast("long")
            .alias("l1_drift_micro"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .orderBy("source")
    )


_LDRIFT_SQL = f"""
WITH bucketed AS (
  SELECT source, doc_id % 2 AS half,
         LEAST(LEN(list_filter({_TOKS}, t -> t <> ''))
                 // {_LDRIFT_BUCKET_TOKENS},
               {_LDRIFT_MAX_BUCKET}) AS bucket
  FROM documents WHERE text IS NOT NULL
), cen AS (
  SELECT source, half, bucket, COUNT(*) AS c
  FROM bucketed GROUP BY 1, 2, 3
), tot AS (
  SELECT source, half, SUM(c) AS n FROM cen GROUP BY 1, 2
), a AS (
  SELECT cen.source, bucket, c * 1000000 // n AS share_a, n AS n_a
  FROM cen JOIN tot ON cen.source = tot.source AND cen.half = tot.half
  WHERE cen.half = 0
), b AS (
  SELECT cen.source, bucket, c * 1000000 // n AS share_b, n AS n_b
  FROM cen JOIN tot ON cen.source = tot.source AND cen.half = tot.half
  WHERE cen.half = 1
), joined AS (
  SELECT COALESCE(a.source, b.source) AS source,
         COALESCE(share_a, 0) AS sa, COALESCE(share_b, 0) AS sb,
         n_a, n_b
  FROM a FULL OUTER JOIN b
    ON a.source = b.source AND a.bucket = b.bucket
)
SELECT source,
       MAX(n_a)::BIGINT AS n_a,
       MAX(n_b)::BIGINT AS n_b,
       COUNT(*)::BIGINT AS n_buckets,
       SUM(ABS(sa - sb))::BIGINT AS l1_drift_micro
FROM joined GROUP BY source
HAVING MAX(n_a) > 0 AND MAX(n_b) > 0
ORDER BY source
"""


# --------------------------------------------------------------------------
# corpus_change_feed — the CHANGE FEED certificate: create the
# versioned table, MERGE the recrawl (same planted semantics as
# corpus_merge_upsert), then return table_changes(v0 → v1) — the
# row-level CDF an incremental downstream consumer would read. The
# oracle reproduces the classification relationally (matched+flag →
# delete pre-image, matched → update pre+post images — the recrawl
# always changes n_chars, so every match IS an update — unmatched →
# insert post-image). Hash-checking this locks the feed's
# classification logic AND the manifest file-diff underneath it.
# --------------------------------------------------------------------------

#: bounded doc_id slice shared by the MERGE-table certificates so
#: their driver collects stay constant-size at every corpus scale
_MERGE_SLICE = 2000


def corpus_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from sqltask_spark.operators.merge import (
        create_parquet_table,
        merge_into_parquet,
        table_changes,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _MERGE_SLICE
    )
    target = docs.filter(F.pmod("doc_id", F.lit(3)) != 2).select(
        "doc_id", "lang", "source", "n_chars"
    )
    source = docs.filter(F.pmod("doc_id", F.lit(2)) == 0).select(
        "doc_id",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
        (F.pmod("doc_id", F.lit(10)) == 4).alias("is_del"),
    )
    tmp = tempfile.mkdtemp(prefix="change_feed_")
    try:
        create_parquet_table(
            target.repartitionByRange(4, "doc_id"), tmp,
            stats_col="doc_id",
        )
        merge_into_parquet(
            spark, tmp, source, ["doc_id"],
            batch_id="crawl-0", delete_col="is_del",
        )
        feed = table_changes(spark, tmp, ["doc_id"], 0, 1)
        rows = feed.orderBy("doc_id", "_change_type").collect()
        return spark.createDataFrame(rows, feed.schema).orderBy(
            "doc_id", "_change_type"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_CHANGE_FEED_SQL = f"""
WITH sliced AS (
  SELECT doc_id, lang, source, n_chars FROM documents
  WHERE doc_id < {_MERGE_SLICE}
), tgt AS (
  SELECT * FROM sliced WHERE doc_id % 3 <> 2
), src AS (
  SELECT doc_id, lang, source, n_chars + 1000 AS n_chars,
         (doc_id % 10 = 4) AS is_del
  FROM sliced WHERE doc_id % 2 = 0
)
SELECT s.doc_id, s.lang, s.source, s.n_chars,
       'insert' AS _change_type
FROM src s LEFT JOIN tgt t ON t.doc_id = s.doc_id
WHERE t.doc_id IS NULL AND NOT s.is_del
UNION ALL
SELECT t.doc_id, t.lang, t.source, t.n_chars, 'delete'
FROM tgt t JOIN src s ON t.doc_id = s.doc_id
WHERE s.is_del
UNION ALL
SELECT t.doc_id, t.lang, t.source, t.n_chars, 'update_preimage'
FROM tgt t JOIN src s ON t.doc_id = s.doc_id
WHERE NOT s.is_del
UNION ALL
SELECT s.doc_id, s.lang, s.source, s.n_chars, 'update_postimage'
FROM src s JOIN tgt t ON t.doc_id = s.doc_id
WHERE NOT s.is_del
ORDER BY doc_id, _change_type
"""


# --------------------------------------------------------------------------
# count_min_tokens — Count-Min sketch as a hash-checked certificate,
# completing the mergeable-sketch trio (Bloom membership, HLL
# distinct, CM frequency). The 100 TB shape: per-shard token counts
# fold into a fixed d×w counter grid (d=2 md5-long rows, w=4096
# counters — 64 KB however large the corpus), grids MERGE by
# element-wise +, and any token's frequency reads as min_j grid[j][
# h_j(token)] — an OVERESTIMATE by construction (collisions only
# add). The certificate: for the exact top-k tokens, emit exact
# count, CM estimate, and overcount — the one-sided guarantee
# (overcount ≥ 0) is hash-checked every round, and the overcount
# magnitude IS the measured accuracy of (d=2, w=4096) at each scale.
# All BIGINT; positions from the md5-long family, so DuckDB replays
# the grid bit-for-bit.
# --------------------------------------------------------------------------

_CM_D = 2
_CM_W = 4096
_CM_TOP = 20


def count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sqltask_spark.data import materialize_and_release
    from sqltask_spark.operators.sketch_store import cm_pos

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    census = (
        docs.select(F.explode(tx.tokenize(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    try:
        # the ONE cell function, shared with the persistent CM store
        # (operators/sketch_store.py) so write/read/entry can never
        # diverge
        def pos(j: int):
            return cm_pos(j, "tok")

        grid = (
            census.select(
                "c",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j).alias("j"), pos(j).alias("p")
                            )
                            for j in range(_CM_D)
                        ]
                    )
                ).alias("cell"),
            )
            .groupBy(F.col("cell.j").alias("j"), F.col("cell.p").alias("p"))
            .agg(F.sum("c").alias("cnt"))
        )
        top = (
            census.orderBy(F.col("c").desc(), F.col("tok").asc())
            .limit(_CM_TOP)
        )
        probes = top.select(
            "tok",
            "c",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(j).alias("j"), pos(j).alias("p"))
                        for j in range(_CM_D)
                    ]
                )
            ).alias("cell"),
        ).select("tok", "c", F.col("cell.j").alias("j"),
                 F.col("cell.p").alias("p"))
        out = (
            probes.join(F.broadcast(grid), ["j", "p"])
            .groupBy("tok", "c")
            .agg(F.min("cnt").alias("cm_estimate"))
            .select(
                "tok",
                F.col("c").cast("long").alias("n_exact"),
                F.col("cm_estimate").cast("long").alias("cm_estimate"),
                (F.col("cm_estimate") - F.col("c"))
                .cast("long")
                .alias("overcount"),
            )
            .orderBy(F.col("n_exact").desc(), F.col("tok").asc())
        )
        return materialize_and_release(out, census)
    except BaseException:
        census.unpersist()
        raise


def _cm_sql() -> str:
    """DuckDB mirror of :func:`count_min_tokens` — same md5-long
    cell positions, same grid fold, same min-over-rows estimate."""
    from sqltask_spark.queries.textops import _md5long_sql

    cells = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS j,"
        f" {_md5long_sql(chr(39) + f'cm:{j}:' + chr(39) + ' || tok')}"
        f" % {_CM_W} AS p, c, tok FROM census"
        for j in range(_CM_D)
    )
    return f"""
WITH census AS MATERIALIZED (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT UNNEST({_TOKS}) AS tok FROM documents WHERE text IS NOT NULL
  ) WHERE tok <> '' GROUP BY tok
), cells AS MATERIALIZED (
{cells}
), grid AS (
  SELECT j, p, SUM(c)::BIGINT AS cnt FROM cells GROUP BY 1, 2
), top AS (
  SELECT tok, c FROM census
  ORDER BY c DESC, tok ASC LIMIT {_CM_TOP}
)
SELECT t.tok,
       t.c::BIGINT AS n_exact,
       MIN(g.cnt)::BIGINT AS cm_estimate,
       (MIN(g.cnt) - t.c)::BIGINT AS overcount
FROM top t
JOIN cells x ON x.tok = t.tok
JOIN grid g ON g.j = x.j AND g.p = x.p
GROUP BY t.tok, t.c
ORDER BY n_exact DESC, t.tok ASC
"""
# hash-checked certificate. The 100 TB problem: COUNT(DISTINCT fp)
# per shard requires shuffling every fingerprint; the production
# answer is a MERGEABLE register sketch (m=256 registers, 8-bit index
# + rank of the next 40 md5 bits) whose per-shard states combine by
# element-wise MAX. This entry computes the per-source register
# states, MERGES them into a '__ALL__' row (the combine step is the
# point — per-shard sketches → corpus estimate with no re-scan), and
# emits the raw HLL estimate in integer MILLI-docs next to the exact
# distinct count, so the driver hash locks both the sketch state
# (n_zero_registers, sum_rho) and the estimator arithmetic.
#
# All integer: rank rho is derived from binary-string length (no
# logs), the harmonic sum is Σ 2^(24−rho) in BIGINT (rho capped at
# 24 — the cap hits with probability ~n/2^24 per register and is
# applied identically in both engines), and the estimate is one
# BIGINT division with alpha in micro units. The raw estimator is
# biased low in the small-range regime (n < 2.5m — linear counting
# territory, which needs ln and is deliberately NOT baked into the
# certificate); n_zero_registers rides along so a consumer can apply
# it. Accuracy of the raw estimator at scale is pytest-pinned on a
# planted 20k-distinct corpus.
# --------------------------------------------------------------------------

_HLL_M = 256
_HLL_RHO_CAP = 24
_HLL_ALPHA_MICRO = 718273  # round(1e6 * 0.7213 / (1 + 1.079/256))
_HLL_NUM = _HLL_ALPHA_MICRO * _HLL_M * _HLL_M * (1 << _HLL_RHO_CAP)


def source_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sqltask_spark.data import materialize_and_release

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    base = (
        docs.select(
            "source", tx.fingerprint_md5(F.col("text")).alias("fp")
        )
        .distinct()
        .persist()
    )
    try:
        idx = F.conv(F.substring(F.col("fp"), 1, 2), 16, 10).cast("int")
        w = F.conv(F.substring(F.col("fp"), 3, 10), 16, 10).cast("long")
        rho = F.when(w == 0, F.lit(_HLL_RHO_CAP)).otherwise(
            F.least(
                F.lit(41) - F.length(F.bin(w)), F.lit(_HLL_RHO_CAP)
            )
        )
        regs_src = (
            base.select("source", idx.alias("idx"), rho.alias("rho"))
            .groupBy("source", "idx")
            .agg(F.max("rho").alias("r"))
        )
        # the MERGE step: per-source sketches → corpus sketch by
        # element-wise register MAX (no fingerprint re-scan)
        regs = regs_src.unionByName(
            regs_src.groupBy("idx")
            .agg(F.max("r").alias("r"))
            .withColumn("source", F.lit("__ALL__"))
            .select("source", "idx", "r")
        )
        est = regs.groupBy("source").agg(
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT),"
                    f" CAST({_HLL_RHO_CAP} - r AS INT))"
                )
            ).alias("s_present"),
            F.count(F.lit(1)).alias("n_present"),
            F.sum("r").cast("long").alias("sum_rho"),
        ).select(
            "source",
            (F.lit(_HLL_M) - F.col("n_present"))
            .cast("long")
            .alias("n_zero_registers"),
            "sum_rho",
            F.expr(
                f"CAST({_HLL_NUM} AS BIGINT) DIV (1000 * (s_present"
                f" + ({_HLL_M} - n_present)"
                f" * {1 << _HLL_RHO_CAP}))"
            ).alias("est_milli"),
        )
        exact = base.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_exact")
        ).unionByName(
            base.select("fp")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
            .withColumn("source", F.lit("__ALL__"))
            .select("source", "n_exact")
        )
        out = (
            est.join(exact, "source")
            .select(
                "source",
                "n_exact",
                "n_zero_registers",
                "sum_rho",
                "est_milli",
                F.abs(F.col("est_milli") - F.col("n_exact") * 1000).alias(
                    "abs_err_milli"
                ),
                F.expr(
                    "abs(est_milli - n_exact * 1000) DIV n_exact"
                ).alias("err_permille"),
                # 1 = the HLL small-range regime (raw estimate below
                # 2.5m with empty registers): a consumer should use
                # linear counting here, not the raw estimate
                F.when(
                    (F.col("est_milli") < F.lit(2500 * _HLL_M))
                    & (F.col("n_zero_registers") > 0),
                    1,
                )
                .otherwise(0)
                .cast("int")
                .alias("lc_regime"),
            )
            .orderBy("source")
        )
        return materialize_and_release(out, base)
    except BaseException:
        base.unpersist()
        raise


_HLL_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT DISTINCT source, md5({_NORM}) AS fp
  FROM documents WHERE text IS NOT NULL
), tagged AS (
  SELECT source,
         ('0x' || substring(fp, 1, 2))::BIGINT AS idx,
         ('0x' || substring(fp, 3, 10))::BIGINT AS w
  FROM base
), rho_t AS (
  SELECT source, idx,
         CASE WHEN w = 0 THEN {_HLL_RHO_CAP}
              ELSE LEAST(41 - length(bin(w)), {_HLL_RHO_CAP}) END AS rho
  FROM tagged
), regs_src AS (
  SELECT source, idx, MAX(rho) AS r FROM rho_t GROUP BY 1, 2
), regs AS (
  SELECT source, idx, r FROM regs_src
  UNION ALL
  SELECT '__ALL__' AS source, idx, MAX(r) AS r FROM regs_src GROUP BY 2
), est AS (
  SELECT source,
         ({_HLL_M} - COUNT(*))::BIGINT AS n_zero_registers,
         SUM(r)::BIGINT AS sum_rho,
         ({_HLL_NUM}::BIGINT // (1000 *
            (SUM(1::BIGINT << ({_HLL_RHO_CAP} - r)::INT)
             + ({_HLL_M} - COUNT(*)) * {1 << _HLL_RHO_CAP})))::BIGINT
           AS est_milli
  FROM regs GROUP BY 1
), exact AS (
  SELECT source, COUNT(*)::BIGINT AS n_exact FROM base GROUP BY 1
  UNION ALL
  SELECT '__ALL__' AS source, COUNT(DISTINCT fp)::BIGINT FROM base
)
SELECT e.source, x.n_exact, e.n_zero_registers, e.sum_rho, e.est_milli,
       abs(e.est_milli - x.n_exact * 1000)::BIGINT AS abs_err_milli,
       (abs(e.est_milli - x.n_exact * 1000) // x.n_exact)::BIGINT
         AS err_permille,
       CASE WHEN e.est_milli < {2500 * _HLL_M}
                 AND e.n_zero_registers > 0
            THEN 1 ELSE 0 END::INT AS lc_regime
FROM est e JOIN exact x USING (source)
ORDER BY source
"""


# --------------------------------------------------------------------------
# corpus_merge_upsert — MERGE INTO as a driver-checked certificate:
# materialize yesterday's corpus slice as a versioned parquet table
# (operators/merge.py), MERGE today's recrawl into it (updates +
# deletes + inserts, copy-on-write file pruning), RETRY the same
# batch (the ledger must no-op it — the hash would catch a double
# apply), and return the final committed state, which the oracle
# reproduces as pure relational algebra (left-anti carry ∪ matched
# update ∪ unmatched insert). The certificate runs on a FIXED
# doc_id slice so the entry's driver collect stays bounded at every
# scale; the operator's own scale story (rewrite ∝ touched files,
# manifest-atomic commit, time travel, vacuum) is pytest-pinned in
# tests/test_merge_table.py. The shared _MERGE_SLICE bound is defined
# at the corpus_change_feed block above.
# --------------------------------------------------------------------------

def corpus_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from sqltask_spark.operators.merge import (
        create_parquet_table,
        merge_into_parquet,
        read_parquet_table,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _MERGE_SLICE
    )
    target = docs.filter(F.pmod("doc_id", F.lit(3)) != 2).select(
        "doc_id", "lang", "source", "n_chars"
    )
    source = docs.filter(F.pmod("doc_id", F.lit(2)) == 0).select(
        "doc_id",
        "lang",
        "source",
        (F.col("n_chars") + F.lit(1000)).alias("n_chars"),
        (F.pmod("doc_id", F.lit(10)) == 4).alias("is_del"),
    )
    tmp = tempfile.mkdtemp(prefix="merge_upsert_")
    try:
        create_parquet_table(
            target.repartitionByRange(4, "doc_id"), tmp,
            stats_col="doc_id",
        )
        first = merge_into_parquet(
            spark, tmp, source, ["doc_id"],
            batch_id="crawl-0", delete_col="is_del",
        )
        retry = merge_into_parquet(
            spark, tmp, source, ["doc_id"],
            batch_id="crawl-0", delete_col="is_del",
        )
        if first["skipped"] or not retry["skipped"]:
            raise AssertionError(
                f"batch ledger broken: first={first} retry={retry}"
            )
        final = read_parquet_table(spark, tmp)
        rows = final.orderBy("doc_id").collect()
        return spark.createDataFrame(rows, final.schema).orderBy(
            "doc_id"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# table_point_lookup — the serving-state read path as a driver-checked
# certificate (operators/merge.py:read_parquet_table_keys): seed a
# HASH-partitioned versioned table (interleaved keys — per-file
# [min,max] spans the key space, so range skipping proves nothing),
# point-look-up a fixed key set, and certify IN-ENTRY that the
# per-file key Bloom filters (r12) proved at least one file key-free
# — the property that keeps a K-row fetch from a 100 TB state table
# file-bounded instead of scan-bounded. The oracle is the plain
# relational filter; file-level never-read pinning (pruned files
# physically deleted, lookup unchanged) is pytest-pinned in
# tests/test_merge_table.py.
# --------------------------------------------------------------------------

_LOOKUP_KEYS = [17, 111, 222, 333, 444]


def table_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.merge import (
        create_parquet_table,
        read_parquet_table_keys,
        stats_prunable,
    )

    # FIXED doc_id slice (the corpus_merge_upsert convention): the
    # certificate's table stays ~250 keys/file at every SF, inside
    # the per-file filter's useful range — an sf1 run that hashed the
    # WHOLE corpus into 8 files would saturate the 8192-bit filters
    # (expected, conservative) and certify nothing
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _MERGE_SLICE
    ).select(
        "doc_id", "lang", "source", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="point_lookup_")
    try:
        create_parquet_table(
            docs.repartition(8, "doc_id"), tmp, stats_col="doc_id"
        )
        m = index_fs.read_manifest(spark, tmp)
        probe_pos = index_fs.filter_probe_positions(
            spark.createDataFrame(
                [(k,) for k in _LOOKUP_KEYS], "doc_id long"
            ),
            "doc_id",
        )
        pruned = sum(
            1
            for rel in m["files"]
            if stats_prunable(m["stats"].get(rel), None, probe_pos)
        )
        if pruned == 0:
            raise AssertionError(
                "per-file key filters pruned nothing on a hashed"
                f" layout ({len(m['files'])} files,"
                f" {len(_LOOKUP_KEYS)} keys) — content skipping is"
                " broken"
            )
        out = read_parquet_table_keys(
            spark, tmp, _LOOKUP_KEYS
        ).orderBy("doc_id")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema).orderBy(
            "doc_id"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# incremental_distinct_hll — the PERSISTENT sketch-state loop as a
# driver-checked certificate (operators/sketch_store.py): build the
# per-source HLL register table from the even-doc_id half, FOLD the
# odd half in as an incremental update (element-wise register MAX
# through the versioned merge table), REPLAY the same update (the
# lattice algebra makes it a no-op even without the ledger — the
# hash would catch any drift), and read the estimates back. Because
# max is associative, the incremental state over half∪half is
# bit-identical to a direct whole-corpus computation — which is
# exactly what the DuckDB oracle computes. The scale point: the
# state table is ≤ sources × 256 rows forever; history is never
# re-scanned.
# --------------------------------------------------------------------------

def incremental_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from sqltask_spark.operators.sketch_store import (
        create_hll_store,
        hll_register_rows,
        read_hll_estimates,
        update_hll_store,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    base = docs.select(
        "doc_id", "source", tx.fingerprint_md5(F.col("text")).alias("fp")
    )
    half_a = base.filter(F.pmod("doc_id", F.lit(2)) == 0)
    half_b = base.filter(F.pmod("doc_id", F.lit(2)) == 1)
    tmp = tempfile.mkdtemp(prefix="hll_store_")
    store = f"{tmp}/store"
    try:
        create_hll_store(hll_register_rows(half_a, "source", "fp"), store)
        update_hll_store(
            spark, store, hll_register_rows(half_b, "source", "fp"),
            batch_id="half-b",
        )
        # replay: ledger fast-path skips; even un-ledgered, the max
        # fold is a no-op — the hash pins the converged state
        update_hll_store(
            spark, store, hll_register_rows(half_b, "source", "fp"),
            batch_id="half-b",
        )
        out = read_hll_estimates(spark, store).orderBy("g")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema).orderBy("g")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# incremental_contamination_bloom — the THIRD sketch-state algebra:
# Bloom words fold by bit OR (idempotent + commutative like the HLL
# max — ledger-free convergence; the replayed fold inside this
# certificate proves it) under a FROZEN capacity (m_bits sized once
# from the expected population — the IVF frozen-quantizer rule; the
# saturation row is the drift signal that says when to rebuild
# bigger). The eval shingle set folds in TWO halves through the
# persisted store; by or-associativity the bitmap is bit-identical
# to a direct whole-eval-set build, which is what the oracle
# computes. Probing the train side against the stored words then
# hash-checks membership end to end.
# --------------------------------------------------------------------------

def incremental_contamination_bloom(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from sqltask_spark.operators.retrieval import md5_long
    from sqltask_spark.operators.sketch_store import (
        bloom_probe,
        bloom_saturation,
        create_bloom_store,
        update_bloom_store,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    sh = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), 3))
        ).alias("s"),
    )
    ev = (
        sh.filter(F.pmod("doc_id", F.lit(10)) == 0)
        .select("s")
        .distinct()
        .persist()
    )
    tmp = tempfile.mkdtemp(prefix="bloom_store_")
    store = f"{tmp}/store"
    try:
        n_eval = ev.count()
        n_words = max(
            64,
            -(-n_eval * _BLOOM_BITS_PER_ELEM // _BLOOM_WORD_BITS),
        )
        m_bits = n_words * _BLOOM_WORD_BITS
        half = F.pmod(md5_long(F.concat(F.lit("bh:"), F.col("s"))), F.lit(2))
        create_bloom_store(
            ev.filter(half == 0), store, m_bits, "s"
        )
        b = ev.filter(half == 1)
        update_bloom_store(spark, store, b, "s")
        # ledger-free replay: OR is idempotent — the hash pins the
        # converged bitmap
        update_bloom_store(spark, store, b, "s")
        tr = sh.filter(F.pmod("doc_id", F.lit(10)) != 0)
        hits = bloom_probe(
            spark, store, tr.select("doc_id", "source", "s"), "s"
        )
        per_source = hits.groupBy("source").agg(
            F.countDistinct("doc_id").cast("long").alias("n_train_docs"),
            F.count(F.lit(1)).cast("long").alias("n_probe_shingles"),
            F.sum("bloom_hit").cast("long").alias("n_bloom_hits"),
        )
        out = (
            per_source.crossJoin(F.broadcast(bloom_saturation(spark, store)))
            .select(
                "source",
                "n_train_docs",
                "n_probe_shingles",
                "n_bloom_hits",
                "m_bits",
                "n_set_bits",
                "fill_micro",
            )
            .orderBy("source")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema).orderBy("source")
    finally:
        ev.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)


def _bloom_inc_sql() -> str:
    from sqltask_spark.queries.textops import _md5long_sql

    w = _BLOOM_WORD_BITS

    def pos_expr(j: int) -> str:
        return (
            _md5long_sql(f"'bl:{j}:' || s") + " % (SELECT m_bits FROM dims)"
        )

    ev_pos = "\n  UNION ALL\n".join(
        f"  SELECT {pos_expr(j)} AS pos FROM ev" for j in range(_BLOOM_K)
    )
    pr_pos = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, source, s, {pos_expr(j)} AS pos FROM tr"
        for j in range(_BLOOM_K)
    )
    return f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, source, UNNEST({_SHINGLES}) AS s
  FROM documents WHERE text IS NOT NULL
), ev AS MATERIALIZED (
  SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0
), dims AS MATERIALIZED (
  SELECT GREATEST(64, ({_BLOOM_BITS_PER_ELEM} * COUNT(*) + {w - 1}) // {w})
           * {w} AS m_bits
  FROM ev
), tr AS MATERIALIZED (
  SELECT doc_id, source, s FROM sh WHERE doc_id % 10 <> 0
), evpos AS (
{ev_pos}
), bloom AS MATERIALIZED (
  SELECT pos // {w} AS word,
         bit_or(1::BIGINT << (pos % {w})::INT) AS bits
  FROM evpos GROUP BY 1
), sat AS (
  SELECT (SELECT m_bits FROM dims)::BIGINT AS m_bits,
         SUM(bit_count(bits))::BIGINT AS n_set_bits,
         ((SUM(bit_count(bits)) * 1000000)
            // (SELECT m_bits FROM dims))::BIGINT AS fill_micro
  FROM bloom
), pr AS (
{pr_pos}
), per_sh AS (
  SELECT p.doc_id, p.source, p.s,
         CASE WHEN SUM(CASE WHEN b.bits IS NOT NULL
                   AND ((b.bits >> (p.pos % {w})::INT) & 1) = 1
              THEN 1 ELSE 0 END) = {_BLOOM_K} THEN 1 ELSE 0 END AS hit
  FROM pr p LEFT JOIN bloom b ON p.pos // {w} = b.word
  GROUP BY p.doc_id, p.source, p.s
)
SELECT source,
       COUNT(DISTINCT doc_id)::BIGINT AS n_train_docs,
       COUNT(*)::BIGINT AS n_probe_shingles,
       SUM(hit)::BIGINT AS n_bloom_hits,
       (SELECT m_bits FROM sat)::BIGINT AS m_bits,
       (SELECT n_set_bits FROM sat)::BIGINT AS n_set_bits,
       (SELECT fill_micro FROM sat)::BIGINT AS fill_micro
FROM per_sh GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# incremental_count_min — the NON-idempotent half of the sketch-state
# story: CM grids merge by element-wise SUM, so unlike the HLL store
# (max = idempotent lattice, ledger-free) a replayed batch would
# double-count — the update path REQUIRES the batch ledger, and this
# certificate replays the half-B fold to prove the ledger no-ops it
# (a double-count would shift every estimate and break the hash).
# Sum associativity makes the incremental grid over half∪half
# bit-identical to the direct whole-corpus grid, so the DIRECT
# oracle (_cm_sql, shared with count_min_tokens) hash-checks the
# incremental path.
# --------------------------------------------------------------------------

def incremental_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from sqltask_spark.operators.sketch_store import (
        cm_cell_rows,
        create_cm_store,
        read_cm_estimates,
        update_cm_store,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )

    def census(half: int) -> DataFrame:
        return (
            docs.filter(F.pmod("doc_id", F.lit(2)) == half)
            .select(F.explode(tx.tokenize(F.col("text"))).alias("tok"))
            .filter(F.col("tok") != "")
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("g", F.lit("__ALL__"))
        )

    tmp = tempfile.mkdtemp(prefix="cm_store_")
    store = f"{tmp}/store"
    c0 = census(0).persist()
    c1 = census(1).persist()
    try:
        create_cm_store(cm_cell_rows(c0, "g", "tok", "c"), store)
        b = cm_cell_rows(c1, "g", "tok", "c")
        update_cm_store(spark, store, b, batch_id="half-b")
        # replay: the ledger MUST no-op this (sum is not idempotent —
        # a double-count would break the driver hash)
        update_cm_store(spark, store, b, batch_id="half-b")
        # the whole-corpus census is definitionally the SUM of the
        # two half censuses — no third tokenize pass over the corpus
        whole = (
            c0.select("tok", "c")
            .unionByName(c1.select("tok", "c"))
            .groupBy("tok")
            .agg(F.sum("c").alias("c"))
        )
        top = (
            whole.orderBy(F.col("c").desc(), F.col("tok").asc())
            .limit(_CM_TOP)
            .withColumn("g", F.lit("__ALL__"))
        )
        est = read_cm_estimates(spark, store, top, "g", "tok")
        out = (
            top.join(est.drop("g"), "tok")
            .select(
                "tok",
                F.col("c").cast("long").alias("n_exact"),
                "cm_estimate",
                (F.col("cm_estimate") - F.col("c"))
                .cast("long")
                .alias("overcount"),
            )
            .orderBy(F.col("n_exact").desc(), F.col("tok").asc())
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema).orderBy(
            F.col("n_exact").desc(), F.col("tok").asc()
        )
    finally:
        c0.unpersist()
        c1.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)


_HLL_INC_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT DISTINCT source, md5({_NORM}) AS fp
  FROM documents WHERE text IS NOT NULL
), tagged AS (
  SELECT source,
         ('0x' || substring(fp, 1, 2))::BIGINT AS idx,
         ('0x' || substring(fp, 3, 10))::BIGINT AS w
  FROM base
), rho_t AS (
  SELECT source, idx,
         CASE WHEN w = 0 THEN {_HLL_RHO_CAP}
              ELSE LEAST(41 - length(bin(w)), {_HLL_RHO_CAP}) END AS rho
  FROM tagged
), regs_src AS (
  SELECT source, idx, MAX(rho) AS r FROM rho_t GROUP BY 1, 2
), regs AS (
  SELECT source, idx, r FROM regs_src
  UNION ALL
  SELECT '__ALL__' AS source, idx, MAX(r) AS r FROM regs_src GROUP BY 2
)
SELECT source AS g,
       ({_HLL_M} - COUNT(*))::BIGINT AS n_zero_registers,
       SUM(r)::BIGINT AS sum_rho,
       ({_HLL_NUM}::BIGINT // (1000 *
          (SUM(1::BIGINT << ({_HLL_RHO_CAP} - r)::INT)
           + ({_HLL_M} - COUNT(*)) * {1 << _HLL_RHO_CAP})))::BIGINT
         AS est_milli
FROM regs GROUP BY 1
ORDER BY g
"""


_POINT_LOOKUP_SQL = f"""
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id < {_MERGE_SLICE}
  AND doc_id IN (17, 111, 222, 333, 444)
ORDER BY doc_id
"""

_MERGE_UPSERT_SQL = f"""
WITH sliced AS (
  SELECT doc_id, lang, source, n_chars FROM documents
  WHERE doc_id < {_MERGE_SLICE}
), tgt AS (
  SELECT * FROM sliced WHERE doc_id % 3 <> 2
), src AS (
  SELECT doc_id, lang, source, n_chars + 1000 AS n_chars,
         (doc_id % 10 = 4) AS is_del
  FROM sliced WHERE doc_id % 2 = 0
)
SELECT t.doc_id, t.lang, t.source, t.n_chars
FROM tgt t LEFT JOIN src s ON t.doc_id = s.doc_id
WHERE s.doc_id IS NULL
UNION ALL
SELECT s.doc_id, s.lang, s.source, s.n_chars
FROM src s JOIN tgt t ON t.doc_id = s.doc_id
WHERE NOT s.is_del
UNION ALL
SELECT s.doc_id, s.lang, s.source, s.n_chars
FROM src s LEFT JOIN tgt t ON t.doc_id = s.doc_id
WHERE t.doc_id IS NULL AND NOT s.is_del
ORDER BY doc_id
"""



# --------------------------------------------------------------------------
# incremental_length_quantiles — the INCREMENTAL-QUANTILE member of
# the sketch-state family: a persistent per-source histogram with a
# FROZEN bucket layout (state bounded at groups × n_buckets rows
# forever) folded by per-bucket SUM — the Count-Min algebra, so the
# batch ledger is mandatory and this certificate replays the half-B
# fold to prove the ledger no-ops it (a double-count would shift
# every cumulative count and break the hash). Binning is pure
# INTEGER arithmetic (least(v DIV W, n-1)) and the quantile read is
# the same cross-multiplied inequality the weighted-percentile UDAF
# states (cum·1000 ≥ q·total), so the DuckDB oracle reproduces the
# full output bit-for-bit — a hash-matched APPROXIMATE structure,
# with the approximation bound carried as data ([lo, hi) interval).
# --------------------------------------------------------------------------

_HISTQ_WIDTH = 64
_HISTQ_BUCKETS = 64


def incremental_length_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from sqltask_spark.operators.sketch_store import (
        create_hist_store,
        read_hist_quantiles,
        update_hist_store,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    ).select("doc_id", "source", "n_chars")
    tmp = tempfile.mkdtemp(prefix="hist_store_")
    store = f"{tmp}/store"
    try:
        create_hist_store(
            docs.filter(F.pmod("doc_id", F.lit(2)) == 0),
            store,
            "source",
            "n_chars",
            bucket_width=_HISTQ_WIDTH,
            n_buckets=_HISTQ_BUCKETS,
        )
        half_b = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)
        update_hist_store(
            spark, store, half_b, "source", "n_chars", batch_id="half-b"
        )
        # replay: the ledger MUST no-op this (sum is not idempotent)
        update_hist_store(
            spark, store, half_b, "source", "n_chars", batch_id="half-b"
        )
        out = read_hist_quantiles(
            spark, store, [250, 500, 750]
        ).select(
            "g",
            F.col("q_milli").cast("long").alias("q_milli"),
            "bucket",
            "lo",
            "hi",
            "cum_count",
            "total_count",
        ).orderBy("g", "q_milli")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema).orderBy(
            "g", "q_milli"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_HISTQ_SQL = f"""
WITH t AS (
  SELECT source AS g,
         LEAST(GREATEST(CAST(n_chars AS BIGINT), 0)
               // {_HISTQ_WIDTH}, {_HISTQ_BUCKETS - 1}) AS b
  FROM documents WHERE n_chars IS NOT NULL
), cells AS (
  SELECT g, b, COUNT(*)::BIGINT AS cnt FROM t GROUP BY 1, 2
), cum AS (
  SELECT g, b,
         SUM(cnt) OVER (PARTITION BY g ORDER BY b)::BIGINT AS cum_count,
         SUM(cnt) OVER (PARTITION BY g)::BIGINT AS total_count
  FROM cells
), qs AS (
  SELECT UNNEST([250, 500, 750]) AS q_milli
), hits AS (
  SELECT g, q_milli, MIN(b) AS bucket, MAX(total_count) AS total_count
  FROM cum, qs
  WHERE cum_count * 1000 >= q_milli * total_count
  GROUP BY 1, 2
)
SELECT h.g,
       h.q_milli::BIGINT AS q_milli,
       h.bucket::BIGINT AS bucket,
       (h.bucket * {_HISTQ_WIDTH})::BIGINT AS lo,
       (CASE WHEN h.bucket < {_HISTQ_BUCKETS - 1}
             THEN (h.bucket + 1) * {_HISTQ_WIDTH} END)::BIGINT AS hi,
       c.cum_count,
       h.total_count
FROM hits h JOIN cum c ON c.g = h.g AND c.b = h.bucket
ORDER BY h.g, h.q_milli
"""

# --------------------------------------------------------------------------
# incremental_heavy_hitters — the TOP-K member of the persistent
# sketch family (operators/sketch_store.py MG store; the incremental
# sibling of the one-shot MG prune behind the oracled
# heavy_hitter_tokens twin): per-source frequent tokens folded in
# thirds under the MANDATORY batch ledger (counter sums are not
# idempotent; this certificate replays a fold to prove the ledger
# no-ops it), with the group's EXACT accumulated decrement carried
# as state so every read is a certified [cnt_lo, cnt_hi] interval.
# The in-entry certificate asserts BOTH MG guarantees against exact
# counts computed on the same tokens: containment for every counter
# and completeness above the decrement. Rows-only (counter values
# are fold-order-dependent by the algorithm's nature — DuckDB cannot
# restate the fold as one relational expression); TWINS →
# heavy_hitter_tokens, whose exact φ-heavy output the same MG prune
# oracles in SQL.
# --------------------------------------------------------------------------

_MG_ENTRY_K = 12


def incremental_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from sqltask_spark.operators import index_fs
    from sqltask_spark.operators.sketch_store import (
        create_mg_store,
        read_mg_topk,
        update_mg_store,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(tx.tokenize(F.col("text"))).alias("t"),
    ).filter(F.col("t") != "")
    parts = [
        toks.filter(F.pmod("doc_id", F.lit(3)) == j) for j in range(3)
    ]
    tmp = tempfile.mkdtemp(prefix="mg_store_")
    store = f"{tmp}/store"
    try:
        create_mg_store(
            parts[0], store, "source", "t", k=_MG_ENTRY_K,
            batch_id="third-0",
        )
        update_mg_store(spark, store, parts[1], "source", "t", "third-1")
        update_mg_store(spark, store, parts[2], "source", "t", "third-2")
        seq = index_fs.read_manifest(spark, store)["_seq"]
        # replay: the ledger must no-op the non-idempotent fold
        update_mg_store(spark, store, parts[1], "source", "t", "third-1")
        if index_fs.read_manifest(spark, store)["_seq"] != seq:
            raise AssertionError(
                "MG ledger broken: replayed fold moved the manifest"
            )
        out = read_mg_topk(spark, store)
        rows = out.orderBy("g", "item").collect()
        # certificate: containment + completeness vs exact counts
        exact = {
            (r["source"], r["t"]): int(r["c"])
            for r in toks.groupBy("source", "t")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        decr_of = {}
        for r in rows:
            decr_of[r["g"]] = int(r["cnt_hi"]) - int(r["cnt_lo"])
            t = exact.get((r["g"], r["item"]), 0)
            if not (r["cnt_lo"] <= t <= r["cnt_hi"]):
                raise AssertionError(
                    f"MG containment broken: {r} vs exact {t}"
                )
        present = {(r["g"], r["item"]) for r in rows}
        for (g, it), c in exact.items():
            if g in decr_of and c > decr_of[g] and (g, it) not in present:
                raise AssertionError(
                    f"MG completeness broken: {(g, it, c)} absent"
                    f" above decrement {decr_of[g]}"
                )
        return spark.createDataFrame(rows, out.schema).orderBy(
            "g", "item"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# KMV bottom-k distinct sketches — the SET-OPERATION member of the
# sketch family. HLL unions; KMV also INTERSECTS: the kept hashes are
# a coordinated uniform sample of the key space, so overlap between
# groups is observable row-by-row. Fully deterministic integers
# (48-bit md5 prefix, BIGINT DIV estimator) → both entries are
# oracled, and the incremental certificate replays an UN-ledgered
# fold to pin the CRDT no-op (bottom-k of unions is idempotent).
# --------------------------------------------------------------------------

_KMV_K = 16  # saturated at sf0.01 (≈25 distinct texts/source > 16,
# exercising the estimator) and unsaturated at sf0.001 (exact path)


def incremental_source_distinct_kmv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from sqltask_spark.operators.sketch_store import (
        create_kmv_store,
        read_kmv_estimates,
        update_kmv_store,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select("doc_id", "source", F.md5("text").alias("fp"))
    thirds = [
        docs.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)
    ]
    tmp = tempfile.mkdtemp(prefix="kmv_store_")
    store = f"{tmp}/store"
    try:
        create_kmv_store(thirds[0], store, "source", "fp", k=_KMV_K)
        update_kmv_store(spark, store, thirds[1], "source", "fp")
        # replay WITHOUT a ledger id: bottom-k of unions is
        # idempotent, so the un-ledgered refold must be a no-op —
        # the driver hash pins the converged state
        update_kmv_store(spark, store, thirds[1], "source", "fp")
        update_kmv_store(spark, store, thirds[2], "source", "fp")
        out = read_kmv_estimates(spark, store).orderBy("g")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema).orderBy("g")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise opening-bigram vocabulary overlap across sources,
    estimated from per-source bottom-k sketches ALONE (O(groups · k)
    state — the 100 TB shape: the quadratic pair work runs on
    sketches, never on the corpus). Keyed on each document's first
    two tokens, where sources genuinely overlap (exact full-text
    overlap across sources is empty — the dedup entries own that)."""
    from sqltask_spark.operators.sketch_store import (
        kmv_rows,
        kmv_set_estimates,
    )

    sp = F.split(F.col("text"), " ")
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        "source",
        F.concat_ws(
            " ",
            F.element_at(sp, 1),
            F.coalesce(F.element_at(sp, 2), F.lit("")),
        ).alias("head2"),
    )
    state = kmv_rows(docs, "source", "head2", _KMV_K)
    return kmv_set_estimates(state, _KMV_K).filter(
        # emit only pairs with observed overlap — keeps the relation
        # sparse when most sources are disjoint (and the oracle drops
        # the same rows)
        F.col("n_common") > 0
    )


_KMV_NUM = (_KMV_K - 1) * (1 << 48)

_KMV_INC_SQL = f"""
WITH d AS (
    SELECT DISTINCT source AS g, md5(text) AS item
    FROM documents WHERE text IS NOT NULL
), hs AS (
    SELECT g, item,
           ('0x' || substring(md5(item), 1, 12))::BIGINT AS h
    FROM d
), r AS (
    SELECT g, item, h,
           row_number() OVER (PARTITION BY g ORDER BY h, item) AS rn
    FROM hs
)
SELECT g, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(CASE WHEN count(*) < {_KMV_K} THEN count(*)
            ELSE {_KMV_NUM} // max(h) END AS BIGINT) AS est
FROM r WHERE rn <= {_KMV_K}
GROUP BY g
"""

_KMV_OVERLAP_SQL = f"""
WITH d AS (
    SELECT DISTINCT source AS g,
           split_part(text, ' ', 1) || ' ' || split_part(text, ' ', 2)
               AS item
    FROM documents WHERE text IS NOT NULL
), hs AS (
    SELECT g, item,
           ('0x' || substring(md5(item), 1, 12))::BIGINT AS h
    FROM d
), r AS (
    SELECT g, item, h,
           row_number() OVER (PARTITION BY g ORDER BY h, item) AS rn
    FROM hs
), s AS (
    SELECT g, item, h FROM r WHERE rn <= {_KMV_K}
), gl AS (
    SELECT DISTINCT g FROM s
), p AS (
    SELECT a.g AS g1, b.g AS g2 FROM gl a JOIN gl b ON a.g < b.g
), u AS (
    SELECT p.g1, p.g2, s.item, s.h,
           max(CASE WHEN s.g = p.g1 THEN 1 ELSE 0 END) AS in1,
           max(CASE WHEN s.g = p.g2 THEN 1 ELSE 0 END) AS in2
    FROM p JOIN s ON s.g = p.g1 OR s.g = p.g2
    GROUP BY p.g1, p.g2, s.item, s.h
), w AS (
    SELECT g1, g2, item, h, in1, in2,
           row_number() OVER (
               PARTITION BY g1, g2 ORDER BY h, item
           ) AS rn
    FROM u
), agg AS (
    SELECT g1, g2,
           CAST(sum(in1 * in2) AS BIGINT) AS n_common,
           CAST(CASE WHEN count(*) < {_KMV_K} THEN count(*)
                ELSE {_KMV_NUM} // max(h) END AS BIGINT) AS union_est,
           CAST(least({_KMV_K}, count(*)) AS BIGINT) AS k_used
    FROM w WHERE rn <= {_KMV_K}
    GROUP BY g1, g2
)
SELECT g1, g2, n_common, union_est,
       CAST((n_common * union_est) // k_used AS BIGINT) AS inter_est
FROM agg WHERE n_common > 0
"""


QUERIES = {
    "zorder_layout_stats": zorder_layout_stats,
    "dsir_weights": dsir_weights,
    "ccnet_ppl_buckets": ccnet_ppl_buckets,
    "sample_k_per_source": sample_k_per_source,
    "source_quality_cap": source_quality_cap,
    "stratified_sample_documents": stratified_sample_documents,
    "apply_mix_sampling": apply_mix_sampling,
    "length_histogram": length_histogram,
    "split_train_eval": split_train_eval,
    "vocab_top_tokens": vocab_top_tokens,
    "pack_sequences": pack_sequences,
    "materialize_packs": materialize_packs,
    "corpus_clean_pipeline": corpus_clean_pipeline,
    "contamination_overlap": contamination_overlap,
    "dedup_incremental": dedup_incremental,
    "domain_mix_weights": domain_mix_weights,
    "corpus_shuffle_shards": corpus_shuffle_shards,
    "corpus_to_training_data": corpus_to_training_data,
    "corpus_to_training_data_v2": corpus_to_training_data_v2,
    # driver-window placement is managed centrally by the staleness
    # rotation in queries/__init__.py
    "sketch_event_stats": sketch_event_stats,
    "sketch_event_stats_checked": sketch_event_stats_checked,
    "zorder_values": zorder_values,
    "pps_sample_documents": pps_sample_documents,
    "weighted_sample_wor": weighted_sample_wor,
    "corpus_diff_snapshot": corpus_diff_snapshot,
    "eval_ngram_coverage": eval_ngram_coverage,
    "token_budget_select": token_budget_select,
    "heavy_hitter_tokens": heavy_hitter_tokens,
    "source_token_quantiles": source_token_quantiles,
    "source_token_quantiles_approx": source_token_quantiles_approx,
    "quality_filter_adaptive": quality_filter_adaptive,
    "source_unigram_entropy": source_unigram_entropy,
    "dup_rate_by_source": dup_rate_by_source,
    "source_overlap_matrix": source_overlap_matrix,
    "contamination_bloom": contamination_bloom,
    "source_distinct_hll": source_distinct_hll,
    "corpus_merge_upsert": corpus_merge_upsert,
    "table_point_lookup": table_point_lookup,
    "incremental_distinct_hll": incremental_distinct_hll,
    "incremental_source_distinct_kmv": incremental_source_distinct_kmv,
    "source_overlap_kmv": source_overlap_kmv,
    "incremental_count_min": incremental_count_min,
    "incremental_length_quantiles": incremental_length_quantiles,
    "incremental_heavy_hitters": incremental_heavy_hitters,
    "incremental_contamination_bloom": incremental_contamination_bloom,
    "count_min_tokens": count_min_tokens,
    "corpus_change_feed": corpus_change_feed,
    "source_length_drift": source_length_drift,
}

ORACLES = {
    "source_token_quantiles": _QUANTILES_SQL,
    "quality_filter_adaptive": _QFILTER_SQL,
    "source_unigram_entropy": _ENTROPY_SQL,
    "dup_rate_by_source": _DUP_RATE_SQL,
    "source_overlap_matrix": _OVERLAP_SQL,
    "dsir_weights": _DSIR_SQL,
    "ccnet_ppl_buckets": _CCNET_SQL,
    "sample_k_per_source": _SAMPLE_K_SQL,
    "source_quality_cap": _SOURCE_CAP_SQL,
    "stratified_sample_documents": _STRAT_SQL,
    "apply_mix_sampling": _APPLY_MIX_SQL,
    "length_histogram": _HIST_SQL,
    # sketch_event_stats: rows-only (sketch encodings are
    # engine-specific; error bounds pytest-verified); the _checked
    # twin below certifies the bounds against exact aggregates
    "sketch_event_stats_checked": _SKETCH_CHECKED_SQL,
    "zorder_values": _zorder_sql(),
    "pps_sample_documents": _PPS_SQL,
    "weighted_sample_wor": _WSAMPLE_SQL,
    "corpus_diff_snapshot": _DIFF_SQL,
    "eval_ngram_coverage": _COVERAGE_SQL,
    "token_budget_select": _TOKEN_BUDGET_SQL,
    "heavy_hitter_tokens": _HH_SQL,
    "split_train_eval": _SPLIT_SQL,
    "vocab_top_tokens": _VOCAB_SQL,
    "pack_sequences": _PACK_SQL,
    "materialize_packs": _PACKMAT_SQL,
    "corpus_clean_pipeline": _CLEAN_SQL,
    "contamination_overlap": _CONTAM_SQL,
    "dedup_incremental": _INCR_SQL,
    "domain_mix_weights": _MIX_SQL,
    "corpus_shuffle_shards": _SHUFFLE_SQL,
    "corpus_to_training_data": _E2E_SQL,
    "corpus_to_training_data_v2": _e2e_v2_sql(),
    "contamination_bloom": _bloom_sql(),
    "source_distinct_hll": _HLL_SQL,
    "corpus_merge_upsert": _MERGE_UPSERT_SQL,
    "table_point_lookup": _POINT_LOOKUP_SQL,
    "incremental_distinct_hll": _HLL_INC_SQL,
    "incremental_source_distinct_kmv": _KMV_INC_SQL,
    "source_overlap_kmv": _KMV_OVERLAP_SQL,
    "incremental_count_min": _cm_sql(),
    "incremental_length_quantiles": _HISTQ_SQL,
    "incremental_contamination_bloom": _bloom_inc_sql(),
    "count_min_tokens": _cm_sql(),
    "corpus_change_feed": _CHANGE_FEED_SQL,
    "source_length_drift": _LDRIFT_SQL,
}
