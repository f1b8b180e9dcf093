"""Distributed BPE merge learning — train a byte-pair-encoding
tokenizer's merge table on a Spark corpus.

The classic Sennrich et al. (2016) algorithm, re-expressed for the
cluster the way production tokenizer trainers do it: the ONLY
corpus-sized pass is the distributed (word, freq) census — one
explode + map-side-combined groupBy. BPE's merge loop itself never
touches the corpus again; it trains on that vocabulary-sized table,
which is bounded (capped at ``max_words`` by freq with a
deterministic tie-break) and collected ONCE. The merge loop then
runs locally with an incremental pair-count index and a lazy-deletion
heap — O(word_len) updates per affected word per merge — so a real
30k-merge table trains in seconds instead of launching 30k
sequential Spark jobs (one census + one collect per merge, the shape
this module had before round 4: days of scheduler overhead at real
merge counts).

Encoding the corpus with the learned table is the other corpus-sized
pass — :func:`encode_corpus` (Arrow-batched Pandas UDF) is the scale
path for that. Determinism: exact integer pair counts, ties broken
by pair lexicographic order, greedy left-to-right rewrites — the
output is reproducible across partitionings and cluster sizes, and
identical to the old one-job-per-merge implementation on any corpus
that fits ``max_words`` (the textbook-sequence pytest pins it). No
reference counterpart: the reference engine (villebro/sqltask) has
no tokenizer surface; this belongs to the training-data-pipeline
extension.
"""

from __future__ import annotations

import heapq

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame
from sqltask_spark.operators.text import tokenize

_MERGE_SCHEMA = (
    "rank int, left string, right string, merged string, pair_freq bigint"
)


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, freq): the one corpus-sized pass of BPE
    training; everything after runs on the vocabulary."""
    return (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def apply_merge(symbols: Column, left: str, right: str) -> Column:
    """Rewrite a symbol array with one merge, left-to-right greedy.

    A JVM-side fold: append each symbol unless it completes the
    (left, right) pair with the accumulator's tail, in which case the
    tail is replaced by the merged symbol. ``try_element_at`` (NULL on
    the empty accumulator) keeps the condition ANSI-safe. Greedy
    left-to-right matches reference BPE on overlaps ("aaa" + merge
    a,a → ["aa", "a"]).
    """
    merged = F.array(F.lit(left + right))
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), merged),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _merge_word(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right single-merge rewrite — the exact local
    twin of the :func:`apply_merge` JVM fold (property-tested
    equivalent): append each symbol unless it completes (left, right)
    with the output's tail, in which case the tail becomes merged."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return out


def _train_merges_local(
    vocab: list[tuple[str, int]],
    n_merges: int,
    min_pair_freq: int,
) -> list[tuple[int, str, str, str, int]]:
    """The in-driver BPE merge loop over a (word, freq) vocabulary.

    Incremental index: ``pair_counts`` holds exact adjacent-pair
    frequencies; ``pair_words`` maps each pair to the word indices
    that (at some point) contained it — stale members are harmless
    because rewrites recount from the word's CURRENT symbols. The
    argmax is a lazy-deletion heap keyed ``(-count, pair)``, which
    reproduces the distributed census' ordering exactly: count desc,
    then pair lexicographic asc.
    """
    words = [list(w) for w, _ in vocab]
    freqs = [f for _, f in vocab]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}

    def recount(idx: int, sign: int, changed: set) -> None:
        f = freqs[idx] * sign
        syms = words[idx]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + f
            changed.add(p)
            if sign > 0:
                pair_words.setdefault(p, set()).add(idx)

    init: set = set()
    for i in range(len(words)):
        recount(i, 1, init)
    heap = [(-c, p) for p, c in pair_counts.items() if c > 0]
    heapq.heapify(heap)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -negc:  # else: stale entry
                best = (p, -negc)
                break
        if best is None or best[1] < min_pair_freq:
            break
        (left, right), count = best
        merges.append((rank, left, right, left + right, count))
        changed: set = set()
        for idx in pair_words.pop((left, right), set()):
            recount(idx, -1, changed)
            words[idx] = _merge_word(words[idx], left, right)
            recount(idx, 1, changed)
        pair_counts.pop((left, right), None)
        changed.discard((left, right))
        for p in changed:
            c = pair_counts.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p))
    return merges


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_pair_freq: int = 2,
    max_words: int | None = 5_000_000,
) -> DataFrame:
    """Learn the top ``n_merges`` BPE merges from a document corpus.

    Returns the merge table (rank, left, right, merged, pair_freq) —
    the artifact a tokenizer loads. Stops early when no pair reaches
    ``min_pair_freq``. Deterministic for a given corpus (ties broken
    by pair lexicographic order), so the output is reproducible
    across partitionings and cluster sizes.

    One distributed corpus pass (the word-frequency census), one
    bounded collect: the vocabulary BPE actually trains on is tiny
    next to the corpus, and ``max_words`` caps the collect
    deterministically (freq desc, word asc) against pathological
    open vocabularies — at that point rare tail words cannot win a
    merge anyway. Pass ``None`` to forbid truncation.
    """
    spark = docs.sparkSession
    wf = word_freq_table(docs, text_col)
    if max_words is not None:
        wf = wf.orderBy(F.desc("freq"), "word").limit(max_words)
    vocab = [(r["word"], int(r["freq"])) for r in wf.collect()]
    merges = _train_merges_local(vocab, n_merges, min_pair_freq)
    return local_frame(spark, merges, _MERGE_SCHEMA)


#: lineage-truncation cadence for the distributed BPE merge loop: the
#: vocabulary plan grows one when/withColumn layer per round between
#: eager checkpoints; 8 layers is well inside planner comfort while
#: amortizing the checkpoint job 8x (r13, guide §1.2/§5)
_TRUNC_EVERY = 8


def learn_bpe_merges_distributed(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_pair_freq: int = 2,
    max_words: int | None = None,
) -> DataFrame:
    """Learn BPE merges with NO driver-side vocabulary: the fully
    distributed twin of :func:`learn_bpe_merges`, bit-identical on
    any corpus both can train on (pytest-pinned).

    The vocabulary stays a DataFrame for the whole merge loop; each
    round is (1) an adjacent-pair census — slice/zip/explode then a
    map-side-combined sum — (2) a deterministic 1-ROW argmax collect
    (count desc, then pair lexicographic asc: Spark's binary UTF-8
    string order equals Python's code-point order, so the tie-break
    matches the local heap exactly), (3) a guarded
    :func:`apply_merge` rewrite of affected words, lazily persisted so
    the NEXT round's census materializes it inside its own job, with
    an eager ``localCheckpoint`` every ``_TRUNC_EVERY`` rounds to
    bound plan depth (the :mod:`sqltask_spark.operators.graph`
    iteration pattern, amortized). Only
    1-row aggregates ever reach the driver, so there is no
    ``max_words`` ceiling to need; the cap is still honored for
    bit-identity testing against the capped local path.

    Trade-off, stated plainly: one Spark job per merge. For real 30k-
    merge tables the local trainer over the bounded vocabulary census
    is the fast path (seconds, one collect ≤ ``max_words`` rows);
    this path is for vocabularies that genuinely cannot collect —
    open character-salad corpora where the word census itself
    explodes past driver memory.
    """
    spark = docs.sparkSession
    wf = word_freq_table(docs, text_col)
    if max_words is not None:
        wf = wf.orderBy(F.desc("freq"), "word").limit(max_words)
    vocab = wf.select(
        F.split("word", "").alias("syms"), "freq"
    ).localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    # r13 (guide §1.2): the per-round ``localCheckpoint`` cost one
    # dedicated materialization JOB per merge — the next round's
    # census re-reads the vocabulary anyway, so a lazy ``persist``
    # gets materialized BY that census for free (~1 job/round saved,
    # scheduler-bound loop). The predecessor's cache is released only
    # AFTER the census materializes its successor (an early unpersist
    # would force the census to recompute the whole rewrite chain),
    # and every ``_TRUNC_EVERY`` rounds an eager localCheckpoint still
    # truncates the growing withColumn lineage so plan depth stays
    # bounded for large ``n_merges``. Values are bit-identical: same
    # expressions, same data, only the materialization schedule moved.
    # The newest eager checkpoint (``anchor``) is NOT released with the
    # lazily persisted predecessors: their successors' lineage is
    # truncated AT it, so a lost cache block recomputes from it — it
    # goes only once the next eager checkpoint has replaced it.
    pending = None  # predecessor cache awaiting release
    anchor = vocab
    for rank in range(1, n_merges + 1):
        pairs = (
            vocab.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(
                            "syms", F.lit(1), F.size("syms") - 1
                        ).alias("l"),
                        F.slice(
                            "syms", F.lit(2), F.size("syms") - 1
                        ).alias("r"),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(
                F.col("p.l").alias("left"), F.col("p.r").alias("right")
            )
            .agg(F.sum("freq").alias("pair_freq"))
        )
        best = (
            pairs.orderBy(F.desc("pair_freq"), "left", "right")
            .limit(1)
            .collect()
        )
        # the census just materialized this round's vocab — the
        # previous round's cache is no longer reachable
        if pending is not None:
            pending.unpersist()
            pending = None
        if not best or best[0]["pair_freq"] < min_pair_freq:
            break
        left, right = best[0]["left"], best[0]["right"]
        merges.append(
            (rank, left, right, left + right, int(best[0]["pair_freq"]))
        )
        old = vocab
        rewritten = vocab.withColumn(
            "syms",
            F.when(
                F.array_contains("syms", left)
                & F.array_contains("syms", right),
                apply_merge(F.col("syms"), left, right),
            ).otherwise(F.col("syms")),
        )
        if rank % _TRUNC_EVERY == 0:
            # eager: pays one job, resets plan depth — nothing hangs
            # off the previous anchor any more
            vocab = rewritten.localCheckpoint()
            old.unpersist()
            anchor.unpersist()
            anchor = vocab
        else:
            vocab = rewritten.persist()
            pending = old if old is not anchor else None
    if pending is not None:
        pending.unpersist()
    vocab.unpersist()
    anchor.unpersist()
    return local_frame(spark, merges, _MERGE_SCHEMA)


def encode_with_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge table to a corpus → (id, tokens).

    Pure chained JVM folds (one per merge, applied in rank order —
    BPE inference is priority-ordered replay of training). For the
    handful-to-thousands of merges a real tokenizer has, prefer a
    Pandas-UDF encoder; this form is for small merge tables and for
    oracle-style verification of the training output.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    sym = F.split(F.col("word"), "")
    for left, right in merges:
        sym = apply_merge(sym, left, right)
    return toks.select("id", sym.alias("tokens"))


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow-vectorized BPE encoder for a FULL merge table →
    ``array<string>`` of subword tokens per input word.

    :func:`encode_with_merges` replays merges as chained JVM folds —
    fine for tens of merges, but a production tokenizer has 30k+ and
    a 30k-deep expression tree is unplannable. This is the documented
    Pandas-UDF exception to the JVM-first rule: the merge table
    broadcasts once as a rank dict (task-side constant, ~MBs), and
    each Arrow batch of words is encoded with the reference
    algorithm — repeatedly merge the lowest-rank adjacent pair — in
    Python at O(word_len · merges_applied) with a per-batch memo for
    repeated words (Zipf makes the memo hit rate high). Identical
    output to ``encode_with_merges`` for any prefix of the table
    (property-tested).
    """
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    def _encode(word: str) -> list[str]:
        syms = list(word)
        while len(syms) > 1:
            best_i, best_rank = -1, len(ranks)
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]), len(ranks))
                if r < best_rank:
                    best_i, best_rank = i, r
            if best_i < 0:
                break
            # merge ALL occurrences of the chosen pair left-to-right,
            # matching one fold of apply_merge
            left, right = merges[best_rank]
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            syms = out
        return syms

    @pandas_udf("array<string>")
    def encode(words: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}
        res = []
        for w in words:
            got = memo.get(w)
            if got is None:
                got = memo[w] = _encode(w)
            res.append(got)
        return pd.Series(res)

    return encode


def encode_corpus(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus → (id, word, tokens) with the Pandas-UDF encoder —
    the scale path for real merge-table sizes."""
    words = docs.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    return words.withColumn("tokens", bpe_encode_udf(merges)(F.col("word")))
