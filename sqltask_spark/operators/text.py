"""Text-analysis operators for large-scale document pipelines.

No reference counterpart (north-star extension): tokenization, stats,
quality scoring, language ID, fingerprinting — all pure JVM column
expressions (no Python UDFs), so they run inside whole-stage codegen
and scale linearly with no shuffle at all (embarrassingly parallel
per-document work).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sqltask_spark.data import local_frame

#: Tiny per-language stopword sets for the heuristic language ID.
#: Deliberately minimal and deterministic; real corpora would load a
#: broadcast stopword table instead.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "and", "is", "of", "to", "in"),
    "es": ("el", "la", "los", "y", "es", "de", "que"),
    "fr": ("le", "la", "les", "et", "est", "de", "que"),
    "zh": ("de", "le", "shi", "bu", "zai", "you", "he"),
}


#: Unicode-whitespace contract, pinned as an EXPLICIT character class.
#: `\s` diverges between engines — Java regex (Spark) and RE2 (DuckDB)
#: treat it as ASCII-only while Python's is Unicode-aware — so the
#: class is spelled out as literal characters, which every engine
#: interprets identically. The set is exactly Python's
#: ``str.isspace()`` / Unicode-``\s`` set (verified by an exhaustive
#: scan in tests): ASCII ws, \x1c-\x1f separators, NEL, NBSP, ogham,
#: en/em-class spaces, line/para separators, narrow NBSP, math space,
#: ideographic space.
UNICODE_WS_CLASS = (
    "[ \t\n\x0b\f\r\x1c-\x1f\x85\xa0\u1680\u2000-\u200a"
    "\u2028\u2029\u202f\u205f\u3000]"
)


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse Unicode-whitespace runs to single spaces,
    trim.

    Whitespace is :data:`UNICODE_WS_CLASS` — two documents differing
    only in exotic whitespace (NBSP vs space, U+2028 vs \\n) normalize
    identically, which is what the dedup family needs. The collapse
    runs before the trim so a whitespace-only document normalizes to
    the empty string (not a single space).
    """
    return F.trim(
        F.regexp_replace(F.lower(col), UNICODE_WS_CLASS + "+", " ")
    )


def tokenize(col: Column) -> Column:
    """Whitespace tokenization of normalized text → array<string>."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokenize(col))


def distinct_token_count(col: Column) -> Column:
    return F.size(F.array_distinct(tokenize(col)))


def char_count(col: Column) -> Column:
    return F.length(col)


def avg_token_length(col: Column) -> Column:
    """Mean token length in characters (double)."""
    toks = tokenize(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return total.cast("double") / F.size(toks)


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = tokenize(col)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS[lang]))
    )
    return hits.cast("double") / F.size(toks)


def quality_score(col: Column) -> Column:
    """Composite document-quality heuristic in [0, 1].

    0.5 × type-token ratio + 0.3 × capped length score
    + 0.2 × (1 − stopword ratio). Deterministic double arithmetic —
    identical formula ships in the DuckDB oracle.
    """
    toks = tokenize(col)
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n
    length_score = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    sw = stopword_ratio(col, "en")
    return ttr * 0.5 + length_score * 0.3 + (F.lit(1.0) - sw) * 0.2


def lang_scores(col: Column) -> dict[str, Column]:
    """Per-language distinct-stopword hit counts."""
    toks = F.array_distinct(tokenize(col))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*map(F.lit, words))))
        for lang, words in STOPWORDS.items()
    }


def lang_id(col: Column) -> Column:
    """Argmax language by stopword hits; ties break alphabetically,
    zero hits → 'und' (undetermined)."""
    scores = lang_scores(col)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # alphabetical order + strict > ⇒ on ties the alphabetically-first
    # language wins (later equal scores don't replace the incumbent)
    for lang in sorted(scores):
        s = scores[lang]
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


def fingerprint_md5(col: Column) -> Column:
    """Deterministic document fingerprint: md5 hex of normalized text.

    md5 (not xxhash) so external engines can reproduce it — it is the
    dedup key of :func:`sqltask_spark.operators.dedup.exact_dedup`.
    """
    return F.md5(normalize_text(col))


#: Subword-ish tokenization pattern over normalized text: letter
#: runs, digit runs, and single punctuation marks — the pre-merge
#: vocabulary a byte-pair encoder starts from. Pure regex, portable
#: between Spark (Java regex) and external engines (RE2).
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_tokens(col: Column) -> Column:
    """BPE-style subword pre-tokens of normalized text."""
    return F.regexp_extract_all(normalize_text(col), F.lit(BPE_PATTERN), 0)


def token_chunks(
    col: Column,
    chunk_size: int = 64,
    overlap: int = 16,
) -> Column:
    """Overlapping token chunks → array<struct<chunk_idx, chunk_text>>.

    The chunking step of an embedding pipeline (doc → chunks →
    vectors), expressed as pure column functions so it runs inside
    codegen and scales with zero Python and zero shuffle: chunk i
    covers tokens [i·stride, i·stride + chunk_size). Explode the
    result to get one row per chunk.
    """
    assert 0 <= overlap < chunk_size
    stride = chunk_size - overlap

    # Bind the token array ONCE via a 1-element transform: lambda
    # variables are materialized values, so the inner per-chunk slices
    # read the bound array instead of re-running the tokenizer per
    # chunk (an expression referenced inside a higher-order lambda is
    # re-evaluated per element — for a 100k-token document that would
    # be ~2000 redundant tokenizations; cf. word_shingles).
    def _chunks_of(toks: Column) -> Column:
        n = F.size(toks)
        # number of chunks: ceil(max(n - overlap, 1) / stride)
        n_chunks = F.greatest(
            F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"),
            F.lit(1),
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                F.concat_ws(
                    " ", F.slice(toks, i * stride + 1, chunk_size)
                ).alias("chunk_text"),
            ),
        )

    return F.transform(F.array(tokenize(col)), _chunks_of)[0]


def rolling_hash(
    col: Column,
    base: int = 31,
    mod: int = 1_000_000_007,
    init: int = 7,
) -> Column:
    """Polynomial rolling hash of normalized text → bigint.

    ``h = fold(chars, init, (acc, c) → (acc·base + codepoint(c)) mod m)``
    — a sequential character fold, deterministic and cheap to
    reproduce in any engine (the per-step mod keeps every
    intermediate < base·m, well inside int64). Unlike md5 it supports
    incremental/windowed computation, which is why large-corpus
    pipelines fingerprint with it.
    """
    # split('', '') yields [''] — filter empties so the empty document
    # hashes to `init` instead of folding one zero code
    chars = F.filter(
        F.split(normalize_text(col), ""), lambda c: c != F.lit("")
    )
    codes = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(init).cast("long"),
        lambda acc, c: (acc * base + c) % mod,
    )


#: PII-ish patterns for corpus scrubbing. Deliberately conservative
#: and portable: same semantics under Java regex (Spark) and RE2
#: (DuckDB/external engines) — no backrefs, no lookarounds.
EMAIL_PATTERN = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
LONG_NUM_PATTERN = r"[0-9]{6,}"


def redact_text(col: Column) -> Column:
    """Scrub normalized text: emails → ``<email>``, then long digit
    runs (≥6: phone/account/SSN-shaped) → ``<num>``.

    The cascade order matters and is part of the contract: digits
    inside an email are consumed by the email rule first. Pure
    ``regexp_replace`` chain — JVM codegen, replace-all semantics,
    no UDF.
    """
    red = F.regexp_replace(normalize_text(col), EMAIL_PATTERN, "<email>")
    return F.regexp_replace(red, LONG_NUM_PATTERN, "<num>")


def redaction_counts(col: Column) -> tuple[Column, Column]:
    """(n_emails, n_long_nums) the cascade in :func:`redact_text`
    would replace — counted with the same order (long-num matches are
    counted AFTER email removal, so an email's digits never double-
    count)."""
    norm = normalize_text(col)
    n_email = F.size(F.regexp_extract_all(norm, F.lit(EMAIL_PATTERN), 0))
    after_email = F.regexp_replace(norm, EMAIL_PATTERN, "<email>")
    n_num = F.size(
        F.regexp_extract_all(after_email, F.lit(LONG_NUM_PATTERN), 0)
    )
    return n_email, n_num


#: Extended PII cascade (portable: no lookarounds/backrefs, literal
#: classes only). Order IS the contract — each later rule runs on the
#: previous rule's redacted output: emails first (their digits must
#: not count as numbers), then dotted quads, then +international
#: phone shapes, then bare long digit runs.
IPV4_PATTERN = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PHONE_PATTERN = r"\+[0-9][0-9()\- ]{5,}[0-9]"


def redact_pii_extended(col: Column) -> dict[str, Column]:
    """Four-stage PII scrub over normalized text → columns dict:
    per-type match counts plus the fully-redacted text.

    Pure regexp cascade (JVM codegen, no UDF, zero shuffle). Counts
    are computed on the SAME intermediate the replace runs on, so the
    semantics are exactly "what the cascade replaced".
    """
    stages = (
        ("emails", EMAIL_PATTERN, "<email>"),
        ("ipv4", IPV4_PATTERN, "<ip>"),
        ("phones", PHONE_PATTERN, "<phone>"),
        ("nums", LONG_NUM_PATTERN, "<num>"),
    )
    cur = normalize_text(col)
    out: dict[str, Column] = {}
    for name, pat, token in stages:
        # NULL text → 0 matches on BOTH engines (Spark size(NULL) and
        # DuckDB LEN(NULL) would otherwise diverge: -1/NULL vs NULL)
        out[f"n_{name}"] = F.coalesce(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0)),
            F.lit(0),
        )
        cur = F.regexp_replace(cur, pat, token)
    out["redacted"] = cur
    return out


#: Unicode script classes as literal codepoint ranges — like
#: UNICODE_WS_CLASS, spelled out so Java regex and RE2 agree exactly
#: (script *names* differ between engines: Java \p{IsLatin} vs RE2
#: \p{Latin}). Coverage is the common blocks, not exhaustive Unicode:
#: the operator is a routing signal (which decoder/tokenizer/lang-id
#: family), not a full script taxonomy.
SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("arabic", "[\u0600-\u06ff]"),
    ("cjk", "[\u3040-\u30ff\u4e00-\u9fff\uac00-\ud7af]"),
    ("cyrillic", "[\u0400-\u04ff]"),
    ("digit", "[0-9]"),
    ("greek", "[\u0370-\u03ff]"),
    ("latin", "[a-zA-Z\u00c0-\u024f]"),
)


def script_counts(col: Column) -> dict[str, Column]:
    """Per-script character counts: each class is one char wide, so
    ``length(s) − length(s with class removed)`` counts matches —
    one regexp_replace per script, all inside codegen. NULL text
    counts as 0 (pinned: the oracle COALESCEs identically, and
    ``dominant_script`` must see 0s, not NULLs, to return 'none')."""
    return {
        name: F.coalesce(
            F.length(col) - F.length(F.regexp_replace(col, cls, "")),
            F.lit(0),
        )
        for name, cls in SCRIPT_CLASSES
    }


def dominant_script(col: Column) -> Column:
    """Argmax script by character count; ties break alphabetically,
    all-zero → 'none' (same argmax shape as :func:`lang_id`)."""
    counts = script_counts(col)
    best_name = F.lit("none")
    best_count = F.lit(0)
    for name in sorted(counts):
        c = counts[name]
        take = c > best_count
        best_name = F.when(take, F.lit(name)).otherwise(best_name)
        best_count = F.when(take, c).otherwise(best_count)
    return best_name


def bigram_lm_nll(
    df: "DataFrame",
    id_col: str,
    text_col: str,
) -> "DataFrame":
    """Corpus-trained bigram language-model score per document — the
    CCNet-style quality signal (Wenzek et al. 2020 filter web text by
    LM perplexity; here the LM is trained on the corpus itself, so
    the score flags documents whose token transitions are atypical
    for the corpus: boilerplate, lorem-ipsum, non-linguistic noise).

    Model: add-one-smoothed bigram LM.  ``P(cur | prev) =
    (c(prev,cur) + 1) / (c(prev) + V)`` with ``V`` the corpus
    distinct-token count; a document's score is the mean negative
    log-likelihood over its bigrams (``avg_nll``, nats/bigram) and
    its exponential (``ppl``).

    Scale shape: one tokenize pass (persisted skinny, released
    eagerly); bigrams are formed JVM-side with ``zip_with`` over two
    array slices (no window, no per-row Python) and hashed to 64-bit
    at the explode so every shuffle carries longs, not text.  The two
    count tables are VOCABULARY-sized, not corpus-sized — the joins
    back to the bigram stream are plain equi-joins on the hash, and
    ``V`` is a 1-row aggregate Spark broadcasts.  Per-bigram log
    probabilities are rounded to fixed-point micro-nats (bigint)
    before the per-doc sum, so the aggregate is an exact integer sum
    — associative, partition-order-free, reproducible across any
    cluster layout (the same trick as ``label_centroids``).

    Documents with fewer than two tokens (incl. NULL/empty text)
    contribute no bigrams, are excluded from the training vocabulary,
    and are absent from the output — the LM is trained on exactly the
    token stream it scores.

    Returns (doc_id, n_bigrams, avg_nll, ppl).
    """
    from pyspark.sql import DataFrame  # noqa: F401  (typing)

    from sqltask_spark.data import materialize_and_release

    n = F.size("t")
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            tokenize(F.col(text_col)).alias("t"),
        )
        .filter(n >= 2)
        .persist()
    )
    vocab = toks.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    bg = (
        toks.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("t", 1, n - 1),
                    F.slice("t", 2, n - 1),
                    lambda a, b: F.struct(
                        a.alias("prev"),
                        F.concat_ws(" ", a, b).alias("bg"),
                    ),
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            F.xxhash64("p.prev").alias("prev_h"),
            F.xxhash64("p.bg").alias("bg_h"),
        )
        .persist()
    )
    bgc = bg.groupBy("bg_h").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = bg.groupBy("prev_h").agg(F.count(F.lit(1)).alias("c_prev"))
    q = (
        bg.join(bgc, "bg_h")
        .join(ctx, "prev_h")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("c_bg") + F.lit(1))
                    / (F.col("c_prev") + F.col("v"))
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("q"),
        )
    )
    nll = -F.col("sum_q") / (F.col("n_bigrams") * F.lit(1000000.0))
    out = (
        q.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("q").alias("sum_q"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(nll, 6).alias("avg_nll"),
            F.round(F.exp(nll), 4).alias("ppl"),
        )
    )
    return materialize_and_release(out, toks, bg)


class BigramLM:
    """A trained bigram LM as data: two vocabulary-sized count tables
    (hashed bigram → count, hashed context → count) plus the scalar
    vocab size. Persistable (parquet) and broadcast-friendly — the
    artifact a pipeline trains ONCE on the reference corpus and then
    applies to any batch or stream of new documents (CCNet trains on
    Wikipedia, scores the web crawl; same split here).
    """

    def __init__(self, bgc: "DataFrame", ctx: "DataFrame", v: int):
        self.bgc = bgc
        self.ctx = ctx
        self.v = int(v)

    def save(self, path: str) -> None:
        self.bgc.write.mode("overwrite").parquet(f"{path}/bigrams")
        self.ctx.write.mode("overwrite").parquet(f"{path}/contexts")
        spark = self.bgc.sparkSession
        local_frame(spark, [(self.v,)], "v bigint").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/meta")

    @staticmethod
    def load(spark, path: str) -> "BigramLM":
        return BigramLM(
            spark.read.parquet(f"{path}/bigrams"),
            spark.read.parquet(f"{path}/contexts"),
            spark.read.parquet(f"{path}/meta").first()["v"],
        )


def _doc_bigrams(df: "DataFrame", id_col: str, text_col: str) -> "DataFrame":
    """(doc_id, prev_h, bg_h) — hashed positional bigrams of every
    ≥2-token document; the shared explode of training and scoring."""
    n = F.size("t")
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            tokenize(F.col(text_col)).alias("t"),
        )
        .filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("t", 1, n - 1),
                    F.slice("t", 2, n - 1),
                    lambda a, b: F.struct(
                        a.alias("prev"),
                        F.concat_ws(" ", a, b).alias("bg"),
                    ),
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            F.xxhash64("p.prev").alias("prev_h"),
            F.xxhash64("p.bg").alias("bg_h"),
        )
    )


def train_bigram_lm(
    df: "DataFrame", id_col: str, text_col: str
) -> BigramLM:
    """Train the add-one bigram LM of :func:`bigram_lm_nll` as a
    standalone artifact (see there for the model and scale shape)."""
    n = F.size("t")
    toks = df.select(tokenize(F.col(text_col)).alias("t")).filter(n >= 2)
    v = (
        toks.select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
        .first()["v"]
    )
    bg = _doc_bigrams(df, id_col, text_col)
    bgc = bg.groupBy("bg_h").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = bg.groupBy("prev_h").agg(F.count(F.lit(1)).alias("c_prev"))
    return BigramLM(bgc, ctx, v)


def score_with_bigram_lm(
    df: "DataFrame",
    model: BigramLM,
    id_col: str,
    text_col: str,
) -> "DataFrame":
    """Score ANY documents (training corpus, a new batch, or one
    micro-batch of a stream) against a trained :class:`BigramLM`.

    Bigrams unseen in training back off to the add-one floor
    ``1/(c_prev + V)`` (and unseen contexts to ``1/V``) via left
    joins + zero-coalesce — identical arithmetic to training-corpus
    scoring for every seen bigram, so composing
    ``score(train_corpus)`` reproduces :func:`bigram_lm_nll`
    bit-for-bit (tested). Returns (doc_id, n_bigrams, avg_nll, ppl).
    """
    bg = _doc_bigrams(df, id_col, text_col)
    q = (
        bg.join(model.bgc, "bg_h", "left")
        .join(model.ctx, "prev_h", "left")
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.coalesce("c_bg", F.lit(0)) + F.lit(1))
                    / (F.coalesce("c_prev", F.lit(0)) + F.lit(model.v))
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("q"),
        )
    )
    nll = -F.col("sum_q") / (F.col("n_bigrams") * F.lit(1000000.0))
    return (
        q.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("q").alias("sum_q"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(nll, 6).alias("avg_nll"),
            F.round(F.exp(nll), 4).alias("ppl"),
        )
    )


def dsir_importance_weights(
    df: "DataFrame",
    target: "DataFrame",
    id_col: str,
    text_col: str,
) -> "DataFrame":
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every document under an LM trained on the
    TARGET distribution and one trained on the SOURCE (the corpus
    itself); the per-bigram mean log-likelihood ratio

        log_ratio = avg_nll_source − avg_nll_target

    is positive for documents that look more like the target than
    like the raw corpus, and ``weight = exp(log_ratio)`` is the
    importance-sampling weight a resampling pass draws with
    (composable with :func:`~sqltask_spark.queries.pipeline
    .apply_mix_sampling`'s deterministic copy-count materializer).

    Both LMs are the add-one bigram artifact (:class:`BigramLM`), so
    the whole computation inherits its scale shape — vocabulary-sized
    count tables, hashed-long shuffles, fixed-point micro-nat sums —
    and its engine portability: every value here is derived from the
    two rounded ``avg_nll`` scores with identical double arithmetic,
    which keeps the operator oracle-hashable despite being a
    two-model composition.

    Returns (doc_id, n_bigrams, nll_source, nll_target, log_ratio,
    weight) for every ≥2-token document of ``df``.
    """
    lm_target = train_bigram_lm(target, id_col, text_col)
    lm_source = train_bigram_lm(df, id_col, text_col)
    s_src = score_with_bigram_lm(df, lm_source, id_col, text_col).select(
        "doc_id", "n_bigrams", F.col("avg_nll").alias("nll_source")
    )
    s_tgt = score_with_bigram_lm(df, lm_target, id_col, text_col).select(
        "doc_id", F.col("avg_nll").alias("nll_target")
    )
    ratio = F.col("nll_source") - F.col("nll_target")
    return s_src.join(s_tgt, "doc_id").select(
        "doc_id",
        "n_bigrams",
        "nll_source",
        "nll_target",
        F.round(ratio, 6).alias("log_ratio"),
        F.round(F.exp(ratio), 6).alias("weight"),
    )
