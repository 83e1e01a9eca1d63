"""Text-analysis operators for training-data pipelines.

All pure ``pyspark.sql.functions`` compositions — language ID, quality
scoring, token counting and fingerprinting run inside whole-stage
codegen with zero Python in the row path, so they scale linearly with
executors at 100 TB.

Every operator is deliberately expressible in ANSI SQL (regexp counts,
md5) so the DuckDB oracle can replicate results bit-for-bit.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the language heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "con", "para"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "an", "as", "at", "by", "on", "or", "be"]


def marker_regex(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def tokens(col: Column) -> Column:
    """Whitespace tokenization with empties removed."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_windows(
    toks: Column | str, k: int, each: Callable[[Column], Column] | None = None
) -> Column:
    """The positional k-token windows of a token array: window ``i``
    joins tokens ``i .. i+k-1`` with one space; an array shorter than
    k yields one window of all its tokens (``""`` for no tokens).
    ``each`` maps every window inside the same lambda (``dedup.h60``
    for window hashes) instead of a second pass over the array. The
    one window expression shingles, window hashes, winnowing, span
    and repetition detection and the streaming decontamination gate
    share. Pass a token array projected in its own select first (see
    ``dedup.shingles_of``): lambdas disable common-subexpression
    elimination, so an inline ``tokens(text)`` re-splits per window."""
    each = each or (lambda w: w)
    n = F.size(toks)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: each(F.array_join(F.slice(toks, i, k), " ")),
    )


def words(col: Column) -> Column:
    """Lowercased ``[a-z]+`` runs with empties removed — the word split
    every subword tokenizer (BPE, unigram) and word-level model here
    trains and encodes on; the DuckDB replicas spell it
    ``list_filter(string_split_regex(lower(text), '[^a-z]+'), ...)``."""
    return F.filter(F.split(F.lower(col), "[^a-z]+"), lambda w: w != "")


def text_rows(df: DataFrame, text_col: str) -> DataFrame:
    """Raw-column companion predicate for token-derived filters — the
    pushdown playbook (see sketch_theta_overlap's raw-ts range): any
    downstream constraint of the form ``size(tokens(text)) > 0`` (the
    shape Catalyst infers from a join key or an explicit token-count
    filter) is an EXPRESSION of ``text``, which the parquet reader
    cannot push (``PushedFilters: []`` — no row-group skipping). It
    strictly implies ``text IS NOT NULL AND text <> ''``, two plain
    raw-column comparisons the reader CAN push, so stating them
    explicitly beside the derived predicate restores row-group
    skipping over null/empty-heavy files without changing a single
    output row (null/empty text produces zero tokens and zero
    exploded rows either way)."""
    c = F.col(text_col)
    return df.filter(c.isNotNull() & (c != ""))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish proxy: alphanumeric runs + each standalone non-space
    symbol counted separately, the way byte-pair tokenizers fragment
    text. Single regexp pass, SQL-replicable."""
    return F.regexp_count(col, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"))


def marker_hits(col: Column, words: list[str]) -> Column:
    """Occurrences of any marker word (word-bounded, lowercased)."""
    return F.regexp_count(F.lower(col), F.lit(marker_regex(words)))


def lang_id(col: Column) -> Column:
    """Language whose marker-stopword hit count is highest; 'und' when
    nothing hits. Ties break toward the lexicographically larger code
    (deterministic)."""
    hit_cols = [
        F.struct(marker_hits(col, words).alias("hits"), F.lit(code).alias("lang"))
        for code, words in sorted(LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*hit_cols))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(col: Column) -> Column:
    """Heuristic quality in [0,1]: length band + alpha ratio +
    stopword presence + sane mean word length (C4/Gopher-style
    pretraining filters, deterministic)."""
    n_chars = F.length(col)
    n_tokens = token_count(col)
    alpha_ratio = (
        F.length(F.regexp_replace(col, r"[^A-Za-z]", "")) / F.greatest(n_chars, F.lit(1))
    )
    stop_ratio = marker_hits(col, STOPWORDS_EN) / F.greatest(n_tokens, F.lit(1))
    mean_word_len = n_chars / F.greatest(n_tokens, F.lit(1))
    return (
        F.when((n_chars >= 50) & (n_chars <= 20000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(alpha_ratio >= 0.6, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), F.lit(0.25)).otherwise(F.lit(0.0))
    )


def fingerprint(col: Column) -> Column:
    """Order-sensitive 60-bit document fingerprint: md5 over the
    token stream (whitespace-normalized), first 15 hex digits as a
    long. Identical in any engine with md5 — the oracle replicates it
    verbatim."""
    normalized = F.array_join(tokens(col), " ")
    return F.conv(F.substring(F.md5(normalized), 1, 15), 16, 10).cast("long")


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """documents -> per-doc analysis frame (SURVEY §2 L8-L11 bundle)."""
    col = F.col(text_col)
    return df.select(
        "doc_id",
        lang_id(col).alias("lang_pred"),
        quality_score(col).alias("quality"),
        token_count(col).alias("n_tokens"),
        bpe_ish_token_count(col).alias("n_bpe_tokens"),
        fingerprint(col).alias("fingerprint"),
    )


# --- PII detection / redaction ----------------------------------------

# Patterns deliberately avoid lookarounds so the Java (Spark) and RE2
# (DuckDB oracle) engines agree match-for-match. Order matters for
# redaction: emails before ips (an email's host part must not be
# half-redacted as a hostname-ish token), cards before phones (a card
# number is also a long digit run).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "card": r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{2}[- ]\d{3,4}[- ]\d{5,7}\b",
}


def pii_counts(col: Column) -> list[Column]:
    """One ``<kind>_count`` column per PII pattern — regexp_count runs
    in codegen; a 100 TB scan stays a narrow map."""
    return [
        F.regexp_count(col, F.lit(pat)).alias(f"{kind}_count")
        for kind, pat in PII_PATTERNS.items()
    ]


def pii_redact(col: Column) -> Column:
    """Replace every PII match with a typed tag (``<pii:email>`` ...).
    A fixed chain of regexp_replace — order per PII_PATTERNS."""
    out = col
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<pii:{kind}>")
    return out


# --- corpus-frequency surprisal scoring -------------------------------


def unigram_surprisal(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document mean unigram surprisal against the corpus's own
    token distribution: surprisal(tok) = log2(N / count(tok)); rare
    tokens raise the score. The cheap stand-in for LM-perplexity
    filtering in a training-data pipeline.

    Two-pass distributed shape: pass 1 builds the (token, count) vocab
    (explode + hash agg — token-keyed shuffle), pass 2 re-joins tokens
    to the vocab and re-aggregates per doc. Per-token surprisal is
    fixed to integer MICRO-BITS before summing so the per-doc sum is
    addition of longs — order-independent, hence bit-identical in any
    engine (a double sum would depend on reduction order).
    """
    from pyspark.sql.functions import broadcast
    from pyspark.storagelevel import StorageLevel

    toked = text_rows(df, text_col).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    tok_rows = toked.select(id_col, F.explode("_toks").alias("tok"))
    # staging discipline (see tfidf_topk): tok_rows feeds the vocab
    # agg AND the re-join; vocab feeds the totals agg AND the join —
    # unpersisted, the scan+explode subtree executes three times
    # (verified in the physical plan: FileScan x3, Generate x3)
    tok_rows = tok_rows.persist(StorageLevel.MEMORY_AND_DISK)
    vocab = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = vocab.persist(StorageLevel.MEMORY_AND_DISK)
    # corpus token total from the ALREADY-AGGREGATED vocab, attached as
    # a broadcast 1-row cross join — no driver-side count(), no second
    # scan+explode of the corpus (that extra pass was a full re-derive
    # of tok_rows before the real job)
    totals = vocab.agg(F.sum("c").alias("_total"))
    micro = F.round(F.log2(F.col("_total") / F.col("c")) * 1_000_000).cast("long")
    return (
        tok_rows.join(vocab, "tok")
        .crossJoin(broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.round(
                (F.sum(micro) / F.count(F.lit(1)) / 1_000_000.0), 4
            ).alias("surprisal")
        )
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et
    al. 2021 repetition filters): fraction of the token stream taken
    by the single most frequent unigram / bigram, and the fraction of
    bigram occurrences that are repeats. High values mark the
    boilerplate/spam documents a pretraining pipeline drops.

    Integer milli-units (``1000 * x div total``) so the ranking is
    exact long arithmetic — bit-identical in the DuckDB oracle.

    Distributed shape: ONE tokenize, unigrams and bigrams tagged into
    a single exploded stream (one Generate), then a three-stage agg
    cascade — (doc, k, gram) tf, (doc, k) max/sum/uniq, (doc) pivot —
    each stage with map-side partial agg, each keyed BY doc so a
    globally hot gram ("the the") never concentrates: the doc id
    prefixes every shuffle key. No windows, no joins.
    """
    toked = df.select(F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks"))
    bigrams = token_windows("_toks", 2)
    staged = toked.select(F.col(id_col), F.col("_toks").alias("g1"), bigrams.alias("g2"))
    tagged = staged.select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.transform("g1", lambda g: F.struct(F.lit(1).alias("k"), g.alias("g"))),
                F.transform("g2", lambda g: F.struct(F.lit(2).alias("k"), g.alias("g"))),
            )
        ).alias("kg"),
    ).select(id_col, F.col("kg.k").alias("k"), F.col("kg.g").alias("g"))
    gtf = tagged.groupBy(id_col, "k", "g").agg(F.count(F.lit(1)).alias("c"))
    stat = gtf.groupBy(id_col, "k").agg(
        F.max("c").alias("max_c"),
        F.sum("c").alias("tot_c"),
        F.count(F.lit(1)).alias("uniq"),
    )
    k, max_c, tot_c, uniq = (F.col(c) for c in ("k", "max_c", "tot_c", "uniq"))
    return stat.groupBy(id_col).agg(
        F.max(F.when(k == 1, tot_c)).alias("n_tokens"),
        F.max(F.when(k == 1, F.expr("1000 * max_c div tot_c"))).alias("top_1gram_milli"),
        F.max(F.when(k == 2, F.expr("1000 * max_c div tot_c"))).alias("top_2gram_milli"),
        F.max(F.when(k == 2, F.expr("1000 * (tot_c - uniq) div tot_c"))).alias(
            "dup_2gram_milli"
        ),
    )


def tfidf_topk(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf ranking.

    The idf factor is LINEAR (n_docs / doc_freq) and the score is kept
    in integer milli-units (tf * n_docs * 1000 div df) — tf-idf
    ordering without a transcendental: log-based idf puts a libm call
    in the hash contract and last-ulp differences between engines can
    flip the ranking of near-tied terms. Integer score → exact
    cross-engine ordering and value hash.

    Distributed shape — ONE derivation of the token explode: (doc,
    term) tf hash agg, PERSISTED (the MinHash staging discipline,
    dedup.py — two consumers with different plans defeat exchange
    reuse, so an unpersisted tf would re-run the whole explode
    subtree), then doc-freq as ``tf.groupBy(term).count()`` joined
    back on term. NOT a count-over-term window: a window has no
    map-side partial aggregation, so a stop-word-grade term present in
    essentially every doc would put billions of (doc, term) rows in
    ONE task's partition at 100 TB. The groupBy gets partial agg
    (map-side combine shrinks the shuffle to distinct terms per map
    task) and the term-keyed equi-join is AQE-skew-splittable — a hot
    term's rows spread over many tasks instead of one. Doc-count is
    attached as a broadcast 1-row cross join (no driver action), then
    the per-doc top-k window (bounded per doc — safe).
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast
    from pyspark.storagelevel import StorageLevel

    words = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_count"))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(broadcast(n_docs))
        .withColumn(
            # integer div, not `/`+cast: float division then cast
            # truncates in Spark but ROUNDS in DuckDB — `div`/`//`
            # keep both engines in exact long arithmetic
            "score_milli",
            F.expr("tf * _n_docs * 1000 div df_count"),
        )
    )
    win = Window.partitionBy(id_col).orderBy(
        F.col("score_milli").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df_count", "score_milli", "rnk")
    )


def bigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document bigram language-model score against a model
    trained on the corpus itself — the CCNet/RefinedWeb perplexity
    filter shape (train an n-gram LM, drop the docs whose per-token
    bits are far from the corpus median). A real conditional model,
    one step up from :func:`unigram_surprisal`: P(w2|w1) with add-α
    smoothing, so boilerplate word *sequences* score cheap and
    incoherent sequences score expensive even when every unigram is
    common.

    bits(w1,w2) = log2((c(w1·) + α·V) / (c(w1,w2) + α)), α = 0.1,
    V = |distinct continuation vocab|. Per-bigram bits are fixed to
    integer MICRO-bits before the per-doc sum (long addition is
    order-independent → bit-identical cross-engine; a double sum is
    not); output is mean bits per bigram in milli-bits.

    Distributed shape: ONE tokenize + ONE Generate produce the
    (doc, w1, w2) bigram stream, PERSISTED (it feeds the count agg
    and the score join — the tfidf staging discipline). Bigram counts
    come from a (w1, w2)-keyed hash agg WITH map-side combine;
    context counts c(w1·) re-aggregate the already-tiny count table,
    never the stream; vocab size V is a 1-row broadcast. The score
    join is gram-keyed and AQE-skew-splittable, so a stop-word bigram
    ("of the") spreads over many tasks — no window, no driver
    collect. At 100 TB the count table is the model you'd persist;
    the scoring pass is the same join.
    """
    from pyspark.sql.functions import broadcast
    from pyspark.storagelevel import StorageLevel

    toked = text_rows(df, text_col).select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks")
    ).filter(F.size("_toks") >= 2)
    grams = toked.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - 1),
                lambda i: F.struct(
                    F.element_at("_toks", i).alias("w1"),
                    F.element_at("_toks", i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    c2 = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c2 = c2.persist(StorageLevel.MEMORY_AND_DISK)
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = c2.agg(F.count_distinct("w2").alias("_v"))
    micro = F.round(
        F.log2((F.col("c1") + 0.1 * F.col("_v")) / (F.col("c2") + F.lit(0.1)))
        * 1_000_000
    ).cast("long")
    return (
        grams.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(broadcast(vocab))
        .groupBy(id_col)
        .agg(F.sum(micro).alias("_sum_micro"), F.count(F.lit(1)).alias("n_bigrams"))
        .select(
            id_col,
            "n_bigrams",
            F.expr("_sum_micro div (n_bigrams * 1000)").alias("bits_milli"),
        )
    )


def kn_trigram_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document INTERPOLATED KNESER-NEY trigram score against a
    model trained on the corpus itself — the canonical n-gram
    smoothing (Kneser & Ney 1995; Chen & Goodman 1999) and the
    KenLM-perplexity filter shape modern corpus curation
    (CCNet/DataComp) actually runs, one step up from the add-α bigram
    (:func:`bigram_lm_score`): absolute discount D = 0.75 at every
    level, with the mass freed by discounting backed off to the
    CONTINUATION distribution (how many distinct contexts a word
    completes — "Francisco" is frequent but only ever follows "San",
    so its continuation probability is tiny; add-α cannot express
    that).

        p(w3|w1w2) = (max(c(w123)−D,0) + D·N1+(w12·)·pc2(w3|w2)) / c(w12·)
        pc2(w3|w2) = (max(t(w23)−D,0) + D·N1+(·w2·-types)·pc1(w3)) / t(w2·)
        pc1(w3)    = t(·w3) / |bigram types|

    where t counts TRIGRAM TYPES (distinct w1 preceding w2w3) — the
    Kneser-Ney substitution of type counts for token counts at the
    backoff levels. Scored on the training corpus every trigram has
    c ≥ 1, so no unseen-path branch is exercised (the max() guards
    stay for honesty). Exactness: every count is an exact long; the
    probability is a fixed chain of IEEE double ops on those longs
    (identical term structure in the oracle — D = 0.75 is binary-
    exact), and the per-trigram −log2 fixes to MICRO-bits before the
    per-doc sum (long addition is order-free; a double sum is not).

    Distributed shape: ONE tokenize + ONE Generate produce the
    (doc, w1, w2, w3) stream, persisted (it feeds the count agg and
    the score join — the bigram discipline); every model table
    derives from the already-tiny trigram count table, never the
    stream (c2ctx/N1+ re-aggregate c3; the type tables re-aggregate
    each other down to the 1-row bigram-type total, which
    broadcasts). The score join chain is gram-keyed and
    AQE-skew-splittable. At 100 TB the count tables are the model
    you'd persist. Returns (id, n_trigrams, bits_milli)."""
    from pyspark.sql.functions import broadcast
    from pyspark.storagelevel import StorageLevel

    D = 0.75
    toked = text_rows(df, text_col).select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks")
    ).filter(F.size("_toks") >= 3)
    grams = toked.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - 2),
                lambda i: F.struct(
                    F.element_at("_toks", i).alias("w1"),
                    F.element_at("_toks", i + 1).alias("w2"),
                    F.element_at("_toks", i + 2).alias("w3"),
                ),
            )
        ).alias("tg"),
    ).select(
        id_col,
        F.col("tg.w1").alias("w1"),
        F.col("tg.w2").alias("w2"),
        F.col("tg.w3").alias("w3"),
    )
    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    c3 = grams.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c3")
    )
    c3 = c3.persist(StorageLevel.MEMORY_AND_DISK)
    c2ctx = c3.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c2ctx"), F.count(F.lit(1)).alias("n1f")
    )
    t2 = c3.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("t2"))
    t2 = t2.persist(StorageLevel.MEMORY_AND_DISK)
    t2ctx = t2.groupBy("w2").agg(
        F.sum("t2").alias("t2ctx"), F.count(F.lit(1)).alias("n1f2")
    )
    t1 = t2.groupBy("w3").agg(F.count(F.lit(1)).alias("t1"))
    tt = t2.agg(F.count(F.lit(1)).alias("_tt"))
    pc1 = "(t1 / _tt)"
    pc2 = f"((greatest(t2 - {D}, 0.0) + {D} * n1f2 * {pc1}) / t2ctx)"
    p = f"((greatest(c3 - {D}, 0.0) + {D} * n1f * {pc2}) / c2ctx)"
    micro = F.expr(f"CAST(round(-log2({p}) * 1000000) AS BIGINT)")
    return (
        grams.join(c3, ["w1", "w2", "w3"])
        .join(c2ctx, ["w1", "w2"])
        .join(t2, ["w2", "w3"])
        .join(t2ctx, "w2")
        .join(t1, "w3")
        .crossJoin(broadcast(tt))
        .groupBy(id_col)
        .agg(
            F.sum(micro).alias("_sum_micro"),
            F.count(F.lit(1)).alias("n_trigrams"),
        )
        .select(
            id_col,
            "n_trigrams",
            F.expr("_sum_micro div (n_trigrams * 1000)").alias(
                "bits_milli"
            ),
        )
    )


def zipf_stats(df: DataFrame, top_n: int = 1000, text_col: str = "text") -> DataFrame:
    """Corpus-level vocabulary statistics: Zipf slope of the top-N
    frequency/rank curve, vocabulary size, token total, type-token
    ratio. The corpus-health dashboard numbers a pretraining pipeline
    tracks per crawl snapshot — a Zipf slope far from −1 flags
    templated/spammy corpora before any per-doc filter runs.

    The slope is least-squares over (log2 rank, log2 freq) of the
    top-N terms, computed from MILLI-fixed longs with the closed-form
    integer formula slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — all
    sums are long additions (order-independent, exact cross-engine);
    only the final division rounds, to milli. Magnitudes: x,y ≤
    ~2·10⁴ milli-units, so n·Σxy ≤ ~10¹⁵ — safely inside int64.

    Distributed shape: one explode → term-keyed hash agg with
    map-side combine (the only corpus-sized shuffle); the top-N cut
    happens on the AGGREGATED vocab via orderBy+limit — Spark plans
    TakeOrderedAndProject (per-partition top-N then a merge of N-row
    heaps), NOT a global sort, and NOT a single-partition window over
    the whole vocabulary; the rank window then runs over ≤N rows.
    The regression is a single-row final agg. Output is one row.
    """
    words = df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    vocab = words.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    vocab = vocab.persist(StorageLevel.MEMORY_AND_DISK)
    totals = vocab.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("total_tokens"),
    )
    win = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    top = (
        vocab.orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(top_n)
        .withColumn("rank", F.row_number().over(win))
        .select(
            F.round(F.log2("rank") * 1000).cast("long").alias("x"),
            F.round(F.log2("c") * 1000).cast("long").alias("y"),
        )
    )
    reg = top.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return reg.crossJoin(F.broadcast(totals)).select(
        "vocab_size",
        "total_tokens",
        F.expr("1000 * total_tokens div vocab_size").alias("tokens_per_type_milli"),
        F.expr(
            "(1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"
        ).alias("zipf_slope_milli"),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169
    "Data Selection for Language Models via Importance Resampling"):
    score every raw-corpus document by how target-like its hashed
    n-gram feature distribution is — log p_target(f)/p_raw(f) summed
    over the doc's features, the quantity DSIR resamples on to tilt a
    web crawl toward a quality domain.

    Features are unigrams AND bigrams hashed into ``n_buckets``
    (md5-derived, engine-reproducible); both bucket-count models get
    add-1 smoothing. Per-feature log-ratios are fixed to integer
    MICRO-bits before the per-doc sum (order-independent long adds);
    output is (doc_id, n_feats, dsir_milli) with milli mean bits.

    Distributed shape: ONE Generate per corpus tags unigrams+bigrams
    into a single exploded stream mapped narrowly to bucket ids; the
    two count models are bucket-keyed hash aggs with map-side combine
    (cardinality ≤ n_buckets — tiny, broadcastable); scoring left-joins
    the PERSISTED raw feature stream to both models (bucket-keyed,
    broadcast at any scale since the models are bounded by n_buckets)
    plus a 1-row totals broadcast; the final agg is doc-keyed. The
    raw corpus never shuffles on a feature key."""
    from pyspark.sql.functions import broadcast
    from pyspark.storagelevel import StorageLevel

    from logprep_spark.functions.dedup import h60

    def feats(df: DataFrame) -> DataFrame:
        # one selectExpr per step: the same expressions composed from
        # Column objects + lambdas cost a py4j round-trip per node
        # (~0.3 s plan-build per corpus per invocation); SQL strings
        # parse JVM-side in one call, values identical
        toked = df.selectExpr(
            id_col, rf"filter(split(lower({text_col}), '\\s+'), t -> t != '') AS _toks"
        )
        return toked.selectExpr(
            id_col,
            "explode(concat(_toks, CASE WHEN size(_toks) >= 2"
            " THEN transform(sequence(1, size(_toks) - 1),"
            " i -> array_join(slice(_toks, i, 2), ' '))"
            " ELSE CAST(array() AS array<string>) END)) AS g",
        ).selectExpr(
            id_col,
            f"CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT) % {n_buckets} AS b",
        )

    raw_feats = feats(raw).persist(StorageLevel.MEMORY_AND_DISK)
    t_counts = feats(target).groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    r_counts = raw_feats.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    t_counts = t_counts.persist(StorageLevel.MEMORY_AND_DISK)
    r_counts = r_counts.persist(StorageLevel.MEMORY_AND_DISK)
    totals = (
        t_counts.agg(F.sum("ct").alias("_tt"))
        .crossJoin(r_counts.agg(F.sum("cr").alias("_tr")))
    )
    ct = F.coalesce(F.col("ct"), F.lit(0)).cast("long")
    cr = F.col("cr").cast("long")
    micro = F.round(
        F.log2(
            ((ct + F.lit(1.0)) * (F.col("_tr") + n_buckets))
            / ((F.col("_tt") + n_buckets) * (cr + F.lit(1.0)))
        )
        * 1_000_000
    ).cast("long")
    return (
        raw_feats.join(broadcast(t_counts), "b", "left")
        .join(broadcast(r_counts), "b")
        .crossJoin(broadcast(totals))
        .groupBy(id_col)
        .agg(F.sum(micro).alias("_sum_micro"), F.count(F.lit(1)).alias("n_feats"))
        .select(
            id_col,
            "n_feats",
            F.expr("_sum_micro div (n_feats * 1000)").alias("dsir_milli"),
        )
    )


def mix_weights(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Temperature-scaled domain mixing weights — the static data-mix
    computation behind Pile-style corpus blending: sampling weight per
    domain ∝ (token count)^(1/2), flattening the head domains so the
    long tail is not drowned (temperature α = 0.5).

    α = 0.5 deliberately: sqrt is CORRECTLY ROUNDED by IEEE 754 in
    every engine, unlike pow(x, 0.3) whose last ulp is
    implementation-defined. The per-domain sqrt is milli-fixed to a
    long BEFORE the normalizing sum (exact long addition), so weights
    are bit-identical cross-engine — randomness-free and
    engine-portable the way a reproducible training mix must be.

    Distributed shape: one narrow token-count map → group-keyed hash
    agg with map-side combine (cardinality = #domains, tiny) → 1-row
    broadcast total. No windows, no driver collect."""
    from pyspark.sql.functions import broadcast

    per = (
        df.select(F.col(group_col).alias("domain"), token_count(F.col(text_col)).alias("_t"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("_t").alias("n_tokens"))
        .withColumn("_s", F.round(F.sqrt("n_tokens") * 1000).cast("long"))
    )
    total = per.agg(F.sum("_s").alias("_tot"))
    return (
        per.crossJoin(broadcast(total))
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            F.expr("1000 * _s div _tot").alias("weight_milli"),
        )
    )


GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document Gopher quality-filter signals (Rae et al. 2021,
    "Scaling Language Models", Appendix A1.1 — the rule set most
    pretraining pipelines start from). One row per doc with each
    rule's measured value (milli-integer ratios so the oracle hash is
    float-free) and pass flag, plus the overall conjunction.

    Rules: 50 <= word count <= 100k; mean word length in [3, 10];
    symbol-to-word ratio ('#' or '...') <= 0.1; <= 90% of lines
    bullet-started and <= 30% ellipsis-ended; >= 80% of words contain
    an alphabetic character; >= 2 of the 8 required English stop
    words present.

    Entirely narrow Catalyst expressions over one scan — no shuffle,
    no UDF; at 100 TB this is a map stage fused into whatever filter
    or dedup consumes it.
    """
    out = df.select(F.col(id_col), *_gopher_metric_cols(F.col(text_col)))
    return out.select(
        "*",
        _gopher_conjunction(min_stop_hits=2).alias("gopher_pass"),
    )


def _gopher_metric_cols(col: Column) -> list[Column]:
    """The A1.1 per-doc metric expressions (narrow, milli-integer) —
    shared by the metric frame (gopher_rules) and the inline gate
    (gopher_gate)."""
    toks = tokens(col)
    n = F.size(toks)
    nd = F.greatest(n, F.lit(1)).cast("double")
    lines = F.split(col, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    milli = lambda num: F.round(1000.0 * num).cast("long")  # noqa: E731

    mean_word = milli(F.length(F.regexp_replace(col, r"\s+", "")) / nd)
    alpha_words = milli(
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / nd
    )
    symbol = milli(
        (F.regexp_count(col, F.lit("#")) + F.regexp_count(col, F.lit(r"\.\.\."))) / nd
    )
    bullet = milli(
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*([-*•])"))) / n_lines
    )
    ellipsis = milli(
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))) / n_lines
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(tokens(F.lower(col))),
            F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS]),
        )
    )
    return [
        n.cast("long").alias("n_words"),
        mean_word.alias("mean_word_len_milli"),
        symbol.alias("symbol_ratio_milli"),
        bullet.alias("bullet_lines_milli"),
        ellipsis.alias("ellipsis_lines_milli"),
        alpha_words.alias("alpha_words_milli"),
        stop_hits.cast("long").alias("stop_hits"),
    ]


def _gopher_conjunction(min_stop_hits: int = 2) -> Column:
    return (
        F.col("n_words").between(50, 100_000)
        & F.col("mean_word_len_milli").between(3000, 10_000)
        & (F.col("symbol_ratio_milli") <= 100)
        & (F.col("bullet_lines_milli") <= 900)
        & (F.col("ellipsis_lines_milli") <= 300)
        & (F.col("alpha_words_milli") >= 800)
        & (F.col("stop_hits") >= min_stop_hits)
    )


def gopher_filter(df: DataFrame, text_col: str = "text", min_stop_hits: int = 2) -> DataFrame:
    """Apply the Gopher gate as a pure NARROW filter over the input —
    no metric frame, no self-join back on doc_id (the join shape adds
    a corpus-sized shuffle for a predicate that fuses into the scan).
    The metrics are staged in an inner select and dropped after the
    filter, so the plan is scan → project → filter → project.
    text_rows states the gate's pushable raw-column implication
    (n_words ≥ min implies non-null, non-empty text) so the scan
    row-group-skips — output rows are unchanged (null/empty text
    already failed the conjunction)."""
    staged = text_rows(df, text_col).select(
        "*", *_gopher_metric_cols(F.col(text_col))
    )
    metric_names = [
        "n_words", "mean_word_len_milli", "symbol_ratio_milli",
        "bullet_lines_milli", "ellipsis_lines_milli", "alpha_words_milli",
        "stop_hits",
    ]
    return staged.filter(_gopher_conjunction(min_stop_hits)).drop(*metric_names)


# --- URL canonicalization ---------------------------------------------

# tracking parameters dropped during canonicalization (the usual
# analytics/click-id noise that splinters one logical URL into many)
TRACKING_PARAM_RE = r"^(utm_[a-z]+|gclid|fbclid|msclkid|ref|mc_eid)="


def url_canonicalize(col: Column) -> Column:
    """Canonical form of an absolute URL for web-corpus dedup: URLs
    differing only in scheme/host case, default port, `www.` prefix,
    tracking parameters, query-parameter order, trailing path slashes
    or fragment collapse to one string (RFC 3986 §6 normalizations
    plus the tracking-param and www conventions crawl pipelines add).
    Paths stay case-sensitive per the RFC. Non-URLs (no scheme) yield
    NULL. Pure Catalyst regex/array expressions — zero shuffle, zero
    UDF; replicated verbatim in the DuckDB oracle."""
    scheme = F.lower(F.regexp_extract(col, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.lower(
        F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    host = (
        F.when(scheme == "http", F.regexp_replace(authority, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(authority, ":443$", ""))
        .otherwise(authority)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(col, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    qcanon = F.array_join(F.array_sort(params), "&")
    built = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(F.lit("")),
    )
    return F.when(scheme != "", built)


# --- HTML text extraction ---------------------------------------------

_HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
]


def html_to_text(col: Column) -> Column:
    """Boilerplate-free text from an HTML payload — the extraction
    step between a web crawl and every text op in this package.
    script/style subtrees drop wholesale (their content is code, not
    prose), comments drop, block-level tags become newlines so
    paragraph structure survives for line-level ops, remaining tags
    become spaces, the six ubiquitous entities decode, and whitespace
    collapses. Pure Catalyst regexp chain — zero shuffle, fused into
    whatever consumes it. Patterns avoid backreferences so the Java
    (Spark) and RE2 (DuckDB oracle) engines agree match-for-match.

    A regex extractor is the honest 80% of readability tooling; a
    DOM-accurate boilerplate classifier (resiliparse/trafilatura
    grade) is injectable behind the same string -> string contract.
    """
    x = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    x = F.regexp_replace(x, r"(?is)<style[^>]*>.*?</style>", " ")
    x = F.regexp_replace(x, r"(?s)<!--.*?-->", " ")
    x = F.regexp_replace(x, r"(?i)</?(p|div|br|h[1-6]|li|tr|table|ul|ol)[^>]*>", "\n")
    x = F.regexp_replace(x, r"<[^>]+>", " ")
    for entity, repl in _HTML_ENTITIES:
        x = F.replace(x, F.lit(entity), F.lit(repl))
    x = F.regexp_replace(x, r"[ \t]+", " ")
    x = F.regexp_replace(x, r" ?\n[ \n]*", "\n")
    # trim() strips spaces only — edge newlines need the regex form
    return F.regexp_replace(x, r"^\s+|\s+$", "")


# --- Unicode cleanup + compression signal -----------------------------

# \x{...} spelling works in BOTH Java (Spark) and RE2 (DuckDB oracle)
INVISIBLE_RE = r"[\x{200b}\x{200c}\x{200d}\x{2060}\x{feff}\x{ad}]"
CONTROL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def strip_invisible(col: Column) -> Column:
    """Drop zero-width characters (ZWSP/ZWNJ/ZWJ/WJ/BOM/soft hyphen)
    and C0/DEL controls (except tab/newline/CR) — the invisible junk
    that splits tokens and defeats exact dedup. Catalyst-only."""
    return F.regexp_replace(F.regexp_replace(col, INVISIBLE_RE, ""), CONTROL_RE, "")


def unicode_nfc(col: Column) -> Column:
    """Unicode NFC normalization (composed forms): 'e'+COMBINING ACUTE
    and precomposed 'é' become one byte sequence, so fingerprints,
    exact dedup, and tokenization agree across sources. Spark has no
    built-in normalizer, so this is the package's one Arrow-batched
    scalar pandas_udf on the text path; DuckDB's native nfc_normalize
    verifies it cross-engine (both implement UAX #15)."""

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    return _nfc(col)


def compression_ratio(col: Column, level: int = 6) -> Column:
    """zlib-compressed size over raw utf-8 size, 4 decimals — the
    MassiveText/RefinedWeb-style redundancy signal: templated or
    repetitive documents compress far below prose (~0.3 vs ~0.6), and
    unlike n-gram repetition counters it catches long-range structure.
    Arrow-batched pandas_udf (zlib isn't expressible in Catalyst);
    rows-only gate — DuckDB exposes no zlib, so correctness rides the
    pytest known-value checks rather than an oracle."""

    @F.pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return 0.0
            return round(len(zlib.compress(raw, level)) / len(raw), 4)

        return s.map(one)

    return _ratio(col)


def bpe_pair_counts(df: DataFrame, top_n: int = 50, text_col: str = "text") -> DataFrame:
    """One iteration of BPE merge-candidate counting — the inner loop
    of byte-pair-encoding tokenizer training, run at corpus scale:
    count every adjacent character pair WITHIN words, rank the merge
    candidates. (A full BPE trainer repeats this after each merge;
    the counting pass is the distributed-scale step.)

    Distributed shape: words explode once, char pairs generate inside
    an array column (one Generate), then a pair-keyed hash agg with
    map-side combine — pair cardinality is bounded by charset², so
    the shuffle is tiny regardless of corpus size; top-N is
    TakeOrderedAndProject over the aggregated pairs."""
    from pyspark.sql import Window

    words = df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    win = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        counted.orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(top_n)
        .withColumn("rank", F.row_number().over(win))
    )


#: Rank-ordered BPE merge table (the trained artifact a tokenizer
#: trainer emits — bpe_pair_counts is one iteration of that training;
#: this table closes the loop by being APPLIED at corpus scale). A
#: real pipeline loads its own table; either way the merges inline as
#: plan literals. ("r", "ing") is deliberately OUT of dependency
#: order — its right symbol forms at a LATER rank (("in","g")), so a
#: single rank-order pass cannot fire it and the fixed-round
#: iteration below is exercised, not just asserted.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "ing"), ("r", "e"), ("a", "t"),
    ("e", "n"), ("o", "r"), ("e", "s"), ("s", "t"), ("in", "g"),
    ("o", "u"), ("t", "o"),
]


def _bpe_merge_once(arr: Column, a: str, b: str) -> Column:
    """Apply ONE merge rule exhaustively left-to-right: a single
    Catalyst ``aggregate`` fold whose accumulator is the merged
    symbol array — when the incoming symbol is ``b`` and the
    accumulator's last symbol is ``a``, they fuse to ``a+b`` (the
    fused symbol can then pair with the NEXT incomer, which is
    exactly the greedy sweep semantics); otherwise append. Zero
    shuffle — a narrow row-level expression."""
    merged = a + b
    return F.aggregate(
        arr,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, F.lit(-1)) == a)
            & (x == b),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_merge_pass(arr: Column, merges: list[tuple[str, str]]) -> Column:
    """One ROUND: every merge rule applied once, in rank order."""
    out = arr
    for a, b in merges:
        out = _bpe_merge_once(out, a, b)
    return out


def bpe_encode_words(
    df: DataFrame,
    text_col: str = "text",
    merges: list[tuple[str, str]] | None = None,
    rounds: int = 3,
    checkpoint: bool = True,
) -> DataFrame:
    """Apply a trained BPE merge table to the corpus — the ENCODER
    that closes the BPE loop (bpe_pair_counts trains; this
    tokenizes): per distinct word, ``rounds`` fixed rank-order merge
    rounds as chained Catalyst ``aggregate`` folds (the holt-family
    array-fold discipline — merges are plan literals, zero shuffle in
    the encode itself), with the kcore-family ``converged`` witness
    (round R == round R−1) emitted per word.

    Semantics, stated honestly: each round applies every rule
    exhaustively in rank order; repeated rounds reach the classic
    lowest-rank-first tokenizer's fixpoint for merge tables whose
    composite symbols form at an earlier-or-equal rank than the rules
    consuming them — plus out-of-order rules (("r","ing")) which fire
    on the NEXT round. A table where a later-rank sweep could consume
    a pair that a newly-enabled earlier-rank merge would claim can
    diverge from the sequential tokenizer; ours has no such overlap
    and the converged witness certifies the fixpoint either way.

    Scale shape: words aggregate to the DISTINCT vocabulary FIRST
    (one grouped count — vocab ≪ occurrences, Heaps' law), the fold
    chain runs once per vocab entry, and occurrence weights ride the
    tiny vocab frame. The RESULT is localCheckpoint'ed: every
    consumer either explodes ``tokens`` (Generate re-derives its
    child per output element — the minhash_signature_df lesson; on
    the 51-nested fold chain that read 85 s at sf0.1) or joins the
    frame more than once, and the frame is vocab-bounded, so the pin
    costs KBs and the chain provably runs once per vocab entry.
    The pin makes construction EAGER (a full corpus word-count +
    fold job runs at DataFrame-build time), so library callers that
    only want the lazy plan — explain/lint tooling, streaming
    composition — pass ``checkpoint=False`` and pin (or not) at
    their own consumption site (the ADVICE-r10 opt-out); catalog
    batch paths keep the default.
    Returns (w, n_w, tokens, converged)."""
    if merges is None:
        merges = BPE_MERGES
    vocab = (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    out = bpe_encode_vocab(vocab, merges, rounds)
    return out.localCheckpoint(eager=True) if checkpoint else out


def bpe_encode_vocab(
    vocab: DataFrame, merges: list[tuple[str, str]], rounds: int
) -> DataFrame:
    """The BPE encode core every encoder here shares: each row's word
    ``w`` splits into characters and runs ``rounds`` rank-order merge
    rounds (:func:`bpe_merge_pass`) as staged projections — plan
    literals, zero shuffle. Callers hand in a DISTINCT-word frame so
    the fold runs once per vocabulary entry, never per occurrence.
    Returns ``vocab``'s columns plus ``tokens`` (the encoded symbol
    array) and ``converged`` (round ``rounds`` == round
    ``rounds - 1``)."""
    staged = vocab.withColumn("_c0", F.split("w", ""))
    for r in range(1, rounds + 1):
        staged = staged.withColumn(
            f"_c{r}", bpe_merge_pass(F.col(f"_c{r - 1}"), merges)
        )
    return staged.select(
        *vocab.columns,
        F.col(f"_c{rounds}").alias("tokens"),
        (F.col(f"_c{rounds}") == F.col(f"_c{rounds - 1}")).alias(
            "converged"
        ),
    )


def bpe_doc_tokens(
    df: DataFrame,
    merges: list[tuple[str, str]],
    rounds: int,
    text_col: str = "text",
    key_col: str = "doc_id",
    out_col: str = "n_bpe_tokens",
    key_as: str | None = None,
) -> DataFrame:
    """Per-doc BPE sequence length — the budget number packing and
    pricing need: (doc, word) occurrence counts join the encoded
    DISTINCT vocabulary (:func:`bpe_encode_vocab`) and sum back per
    ``key_col``. Two bounded shuffles (the (doc, word) agg and the
    doc-keyed sum); raw text is never shuffled. Docs without a word
    have no row. Returns (key, out_col), the key renamed to
    ``key_as`` when given (a caller joining back onto ``df`` needs a
    name ``df`` does not carry)."""
    key = key_as or key_col
    pdw = (
        df.select(
            F.col(key_col).alias(key_as) if key_as else F.col(key_col),
            F.explode(words(F.col(text_col))).alias("w"),
        )
        .groupBy(key, "w")
        .agg(F.count(F.lit(1)).alias("_n_w"))
    )
    enc = bpe_encode_vocab(pdw.select("w").distinct(), merges, rounds).select(
        "w", F.size("tokens").cast("long").alias("_n_tok")
    )
    return (
        pdw.join(enc, "w")
        .groupBy(key)
        .agg(F.sum(F.col("_n_w") * F.col("_n_tok")).alias(out_col))
    )


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    merges: list[tuple[str, str]] | None = None,
    rounds: int = 3,
    top_n: int = 30,
) -> DataFrame:
    """Corpus token-frequency readout of the BPE encoder: explode the
    per-vocab-word token arrays weighted by occurrence count, sum per
    token, top-N — plus the corpus-wide ``converged`` witness
    (bool-min over the vocabulary) on every row."""
    enc = bpe_encode_words(df, text_col=text_col, merges=merges, rounds=rounds)
    tok = enc.select(
        F.explode("tokens").alias("token"), "n_w", "converged"
    )
    counts = tok.groupBy("token").agg(
        F.sum("n_w").cast("long").alias("n_occurrences")
    )
    conv = tok.agg(F.min("converged").alias("converged"))
    return (
        counts.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(top_n)
        .crossJoin(F.broadcast(conv))
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
) -> DataFrame:
    """The full BPE TRAINER (Sennrich et al. 2016) — completes the
    tokenizer arc (bpe_pair_counts = one iteration's counts;
    bpe_encode_words APPLIES a table; this LEARNS one): ``n_merges``
    rounds of (count adjacent token pairs weighted by word frequency
    → adopt the most frequent pair as the next merge → re-tokenize),
    with the deterministic tie-break (count DESC, lhs ASC, rhs ASC)
    both engines share.

    Distributed shape, per round: pair counting is ONE map-side-
    combining agg over the DISTINCT vocabulary (pair keyspace ≤
    alphabet², tiny shuffle — the bpe_pair_counts shape); the winning
    pair is a 1-ROW driver fetch (the Lloyd-centroid precedent: the
    merge table is a MODEL, k rows of (pair, count), never data) and
    bakes into the next round's re-tokenize fold as plan literals
    (:func:`_bpe_merge_once` — narrow, zero shuffle). The corpus-
    sized vocabulary build localCheckpoints ONCE; the per-round
    re-tokenize folds stay LAZY (r14, guide §1.2): each round's
    count job re-applies the ≤ n_merges previously learned folds to
    the checkpointed vocab — narrow codegen'd array transforms over
    the Heaps-law-bounded vocabulary, far cheaper than the eager
    materialization job per round the old per-round localCheckpoint
    paid (n_merges extra Spark jobs of pure fixed overhead; the fold
    chain is depth-bounded by n_merges, so the Catalyst-blowup
    concern that motivates per-round pinning in the UNBOUNDED
    iterative loops does not apply).
    Vocabulary frequencies are computed ONCE; rounds never re-touch
    the corpus — at 100 TB the trainer costs one corpus pass plus
    n_merges vocab-sized rounds. Returns the learned table:
    (rank, lhs, rhs, pair_count). Stops early (fewer rows) if no
    pair remains."""
    vocab = (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .withColumn("t", F.split("w", ""))
        .localCheckpoint()
    )
    learned: list[tuple[int, str, str, int]] = []
    for r in range(1, n_merges + 1):
        pairs = (
            vocab.select(
                "n_w",
                F.explode(
                    # guard: sequence(1, 0) DESCENDS in Spark, so a
                    # 1-token word would index past the array
                    F.expr(
                        "transform(CASE WHEN size(t) >= 2"
                        " THEN sequence(1, size(t) - 1)"
                        " ELSE CAST(array() AS array<int>) END,"
                        " i -> struct(element_at(t, i) AS a,"
                        " element_at(t, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n_w").cast("long").alias("cnt"))
        )
        top = pairs.orderBy(
            F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
        ).limit(1).collect()
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        learned.append((r, a, b, cnt))
        vocab = vocab.withColumn("t", _bpe_merge_once(F.col("t"), a, b))
    return df.sparkSession.createDataFrame(
        learned, "rank INT, lhs STRING, rhs STRING, pair_count LONG"
    )


def bpe_fertility(
    df: DataFrame,
    text_col: str = "text",
    domain_col: str = "source",
    merges: list[tuple[str, str]] | None = None,
    rounds: int = 3,
) -> DataFrame:
    """Per-domain tokenizer-fit readout over the BPE encoder — the
    numbers a tokenizer owner actually watches per corpus slice:
    FERTILITY (tokens per word; high fertility = the merge table
    doesn't fit that domain, its text costs more sequence length per
    word) and CHARS PER TOKEN (compression; low = fragmenting into
    characters). Encoding runs ONCE over the GLOBAL distinct
    vocabulary (Heaps' law — the fold chain never touches occurrence
    rows); per-(domain, word) counts then join the tiny encoded-vocab
    frame (equi-join on the word, AQE-splittable) and the readout is
    one domain-key agg of exact integer products. A per-domain
    ``converged`` witness rides along (bool-min over the domain's
    words).
    Returns (domain_col, n_words, n_tokens, fertility_milli,
    chars_per_token_milli, converged)."""
    if merges is None:
        merges = BPE_MERGES
    counts = (
        df.select(
            F.col(domain_col), F.explode(words(F.col(text_col))).alias("w")
        )
        .groupBy(domain_col, "w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    enc = bpe_encode_vocab(counts.select("w").distinct(), merges, rounds).select(
        "w",
        F.size("tokens").cast("long").alias("_n_tok"),
        F.length("w").cast("long").alias("_n_chars"),
        F.col("converged").alias("_conv"),
    )
    joined = counts.join(enc, "w")
    return joined.groupBy(domain_col).agg(
        F.sum("n_w").cast("long").alias("n_words"),
        F.sum(F.col("n_w") * F.col("_n_tok")).cast("long").alias(
            "n_tokens"
        ),
        F.expr("1000 * sum(n_w * _n_tok) div sum(n_w)").alias(
            "fertility_milli"
        ),
        F.expr(
            "1000 * sum(n_w * _n_chars) div sum(n_w * _n_tok)"
        ).alias("chars_per_token_milli"),
        F.min("_conv").alias("converged"),
    )


def chunk_passages(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    min_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Passage chunking with overlap — the RAG/retrieval preprocessing
    step (and the context-window packing precursor): each document
    splits into ``chunk_tokens``-token windows advancing by
    ``stride`` (stride < chunk_tokens ⇒ overlapping passages, the
    standard retrieval trick so answers spanning a boundary survive);
    tail fragments shorter than ``min_tokens`` are dropped unless
    they are the document's only chunk.

    Distributed shape: tokenization and window slicing stay inside
    array columns (one narrow projection), then ONE posexplode emits
    the passages — no shuffle at all; at 100 TB this is a map stage
    that fuses with the embedding UDF that usually follows it."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n = F.size("_toks")
    n_chunks = F.greatest(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("long") + 1, F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice("_toks", i * stride + 1, chunk_tokens), " "),
    )
    out = toked.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).select(
        id_col,
        "chunk_id",
        "chunk_text",
        token_count(F.col("chunk_text")).alias("n_tokens"),
    )
    return out.filter((F.col("n_tokens") >= min_tokens) | (F.col("chunk_id") == 0))


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 lexical retrieval for a fixed query — the keyword
    counterpart to the ANN vector path (a retrieval stack needs both;
    hybrid search merges their ranked lists). Okapi BM25: idf(t) =
    ln((N − df + 0.5)/(df + 0.5) + 1) (the Lucene non-negative
    variant), tf saturation k1, length normalization b against the
    corpus mean document length.

    Distributed shape: the corpus statistics (N, total length, per-
    term document frequencies for the HANDFUL of query terms) are ONE
    agg of conditional sums → a 1-row broadcast; per-doc scoring is a
    narrow map (array ops against term literals); top-k is
    TakeOrderedAndProject. ZERO corpus shuffles — a full inverted
    index is only worth building for high query volume; for ad-hoc
    queries this scan shape is the right cost. Scores are milli-fixed
    after a fixed-operand-order per-row computation (exact integer
    corpus stats in, one rounding out) so ranking is engine-exact."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    toked = df.select(F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks"))
    stats = toked.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.size("_toks")).alias("_total_len"),
        *[
            F.sum(
                F.when(F.array_contains("_toks", t), 1).otherwise(0)
            ).alias(f"_df{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    dl = F.size("_toks").cast("double")
    avgdl = F.col("_total_len") / F.col("_n")
    def term_tf(t: str):
        # real closure, not a default-arg lambda: a two-parameter
        # lambda makes F.filter pass (element, index) and the "term"
        # silently becomes the index column
        return F.size(F.filter("_toks", lambda x: x == F.lit(t))).cast("double")

    parts = []
    for i, t in enumerate(query_terms):
        tf = term_tf(t)
        idf = F.log(
            (F.col("_n") - F.col(f"_df{i}") + 0.5) / (F.col(f"_df{i}") + 0.5) + 1.0
        )
        parts.append(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)))
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    scored = (
        toked.crossJoin(broadcast(stats))
        .select(F.col(id_col), F.round(score * 1000).cast("long").alias("score_milli"))
        .filter(F.col("score_milli") > 0)
    )
    win = Window.orderBy(F.col("score_milli").desc(), F.col(id_col).asc())
    return (
        scored.orderBy(F.col("score_milli").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(win))
    )


QUALITY_MODEL_PATH = None  # default: packaged artifact


def load_quality_model() -> dict:
    import json
    import os

    path = QUALITY_MODEL_PATH or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "operators",
        "quality_model.json",
    )
    with open(path) as f:
        return json.load(f)


def quality_model_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", model: dict | None = None
) -> DataFrame:
    """Score documents with the TRAINED quality classifier
    (tools/train_quality.py — hashed-unigram logistic regression
    distilling the strict quality rule into a smooth probability, the
    GPT-3/LLaMA-style quality-classifier technique) — entirely in
    Catalyst expressions: the micro-int weight vector is a plan-
    LITERAL array, the per-doc feature dot product is one ``aggregate``
    fold over the token array (exact long addition — partition-order-
    free), and only the final sigmoid runs in doubles. No UDF of any
    kind — one step beyond amides' Arrow pandas_udf: model inference
    fused into whole-stage codegen."""
    from logprep_spark.functions.dedup import h60

    model = model or load_quality_model()
    dim = model["dim"]
    warr = F.array(*[F.lit(int(x)).cast("long") for x in model["weights_micro"]])
    bias = int(model["bias_micro"])
    # stage the literal weight array as a per-ROW column: referenced
    # inside the aggregate lambda it would be rebuilt per TOKEN (dim
    # literals x tokens; measured ~2x end-to-end at sf0.01)
    toked = df.select(
        F.col(id_col),
        tokens(F.lower(F.col(text_col))).alias("_toks"),
        warr.alias("_w"),
    )
    fold = F.aggregate(
        "_toks",
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.element_at("_w", (F.pmod(h60(t), F.lit(dim)) + 1).cast("int")),
    )
    staged = toked.select(
        F.col(id_col),
        F.size("_toks").alias("n_tokens"),
        fold.alias("_wsum"),
    )
    logit = F.lit(bias) + F.expr("_wsum div greatest(n_tokens, 1)")
    return staged.select(
        id_col,
        "n_tokens",
        logit.alias("logit_micro"),
        F.round(1000.0 / (1.0 + F.exp(-logit / 1_000_000.0))).cast("long").alias(
            "prob_milli"
        ),
        (logit > 0).alias("pred_high_quality"),
    )


def c4_filter(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """C4-style heuristic cleanup (Raffel et al. 2020, §2.2 — the T5
    corpus rules, the other canonical filter set next to Gopher's):
    line-level retention plus document-level gates, in one narrow
    pass.

    Line rules (a line survives if ALL hold): ends in terminal
    punctuation (. ! ? or closing quote after one), has >= 5 words,
    and carries no cookie/javascript boilerplate marker. Document
    rules over the SURVIVING lines: >= 3 sentences (terminal-punct
    count), no "lorem ipsum", no '{' (code leak into prose corpora).

    Output per doc: kept line count / original line count, sentence
    count, each gate flag, the conjunction, and the retained text —
    the filtered corpus AND the audit columns a pipeline logs.

    Entirely narrow Catalyst array/regex expressions over one scan —
    zero shuffle, zero UDF; fuses with downstream dedup/scoring the
    way the Gopher gate does."""
    col = F.col(text_col)
    lines = F.split(col, "\n")
    term = r'[.!?]["’”]?\s*$'
    boiler = r"(?i)(javascript|cookie policy|terms of use|privacy policy)"
    keep = F.filter(
        lines,
        lambda l: l.rlike(term)
        & (F.size(F.filter(F.split(l, r"\s+"), lambda t: t != "")) >= 5)
        & ~l.rlike(boiler),
    )
    kept_text = F.array_join(keep, "\n")
    n_sent = F.regexp_count(kept_text, F.lit(r"[.!?]"))
    no_lorem = ~F.lower(col).contains("lorem ipsum")
    no_brace = ~col.contains("{")
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(keep).cast("long").alias("n_lines_kept"),
        n_sent.cast("long").alias("n_sentences"),
        no_lorem.alias("no_lorem"),
        no_brace.alias("no_brace"),
        (
            (F.size(keep) > 0) & (n_sent >= 3) & no_lorem & no_brace
        ).alias("c4_pass"),
        kept_text.alias("kept_text"),
    )


def pmi_collocations(
    df: DataFrame,
    top_n: int = 50,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-N bigram collocations by pointwise mutual information — the
    phrase-mining pass that turns a corpus into a multiword-expression
    list (tokenizer vocab candidates, query expansion, stopword-pair
    diagnostics). PMI = log2(T·c(w1,w2) / (c(w1,·)·c(·,w2))) with a
    ``min_count`` support floor so hapax pairs don't dominate.

    Determinism: counts are exact longs from hash aggs; the PMI float
    is a fixed operand-order per-row expression rounded to MICRO
    before the top-N cut; ties break on (w1, w2).

    Distributed shape: ONE Generate produces the bigram stream; the
    pair hash agg (map-side combine) is the only corpus-sized shuffle;
    left/right marginals re-aggregate the count table, never the
    stream; T is a 1-row broadcast; the cut is TakeOrderedAndProject
    over the aggregated (and support-floored) pairs — per-partition
    heaps, no global sort."""
    from pyspark.sql.functions import broadcast
    from pyspark.storagelevel import StorageLevel

    toked = text_rows(df, text_col).select(
        tokens(F.lower(F.col(text_col))).alias("_toks")
    ).filter(F.size("_toks") >= 2)
    grams = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - 1),
                lambda i: F.struct(
                    F.element_at("_toks", i).alias("w1"),
                    F.element_at("_toks", i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c2 = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c2 = c2.persist(StorageLevel.MEMORY_AND_DISK)
    left = c2.groupBy("w1").agg(F.sum("c2").alias("cl"))
    right = c2.groupBy("w2").agg(F.sum("c2").alias("cr"))
    total = c2.agg(F.sum("c2").alias("_t"))
    pmi = F.round(
        F.log2(
            (F.col("_t").cast("double") * F.col("c2"))
            / (F.col("cl").cast("double") * F.col("cr"))
        )
        * 1_000_000
    ).cast("long")
    return (
        c2.filter(F.col("c2") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(broadcast(total))
        .select("w1", "w2", "c2", pmi.alias("pmi_micro"))
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(top_n)
    )


def vocab_divergence(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    top_n: int = 2000,
) -> DataFrame:
    """Jensen–Shannon divergence between two corpora's unigram
    distributions — the snapshot-over-snapshot vocabulary-drift
    number a crawl pipeline tracks (PSI's lexical cousin: PSI watches
    a numeric column, this watches the language itself). Computed
    over the union of both corpora's ``top_n`` terms with add-1
    smoothing so one-sided terms contribute finite divergence.

    Exactness: counts are exact longs; per-term contributions to
    JS = ½KL(p‖m) + ½KL(q‖m) are fixed to integer MICRO-nats before
    the final sum (order-free long addition); output is one row with
    js_micro ∈ [0, ln2·10⁶] plus the term-overlap share.

    Distributed shape: one term-keyed hash agg per corpus (map-side
    combine); the top-N cut is TakeOrderedAndProject on the
    AGGREGATED vocab; the join of two ≤2·top_n-row frames is trivially
    broadcastable; totals are 1-row broadcasts."""
    from pyspark.sql.functions import broadcast
    from pyspark.storagelevel import StorageLevel

    def vocab(df: DataFrame) -> DataFrame:
        return (
            df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), F.col("t"))
            .limit(top_n)
        )

    va = vocab(a).withColumnRenamed("c", "ca").persist(StorageLevel.MEMORY_AND_DISK)
    vb = vocab(b).withColumnRenamed("c", "cb").persist(StorageLevel.MEMORY_AND_DISK)
    joined = va.join(vb, "t", "full_outer").select(
        "t",
        (F.coalesce("ca", F.lit(0)) + F.lit(1)).alias("na"),
        (F.coalesce("cb", F.lit(0)) + F.lit(1)).alias("nb"),
        F.col("ca").isNotNull().cast("int").alias("in_a"),
        F.col("cb").isNotNull().cast("int").alias("in_b"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tot = joined.agg(
        F.sum("na").alias("_ta"), F.sum("nb").alias("_tb"),
        F.sum("in_a").alias("_n_a"), F.sum("in_b").alias("_n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("_n_both"),
        F.count(F.lit(1)).alias("_n_terms"),
    )
    # p = na/ta, q = nb/tb, m = (p+q)/2; contribution fixed to micro
    # BEFORE the sum; ln via fixed IEEE operand order in both engines
    contrib = F.round(
        (
            F.lit(0.5) * (F.col("na") / F.col("_ta"))
            * F.log((F.col("na") / F.col("_ta"))
                    / ((F.col("na") / F.col("_ta") + F.col("nb") / F.col("_tb")) / 2))
            + F.lit(0.5) * (F.col("nb") / F.col("_tb"))
            * F.log((F.col("nb") / F.col("_tb"))
                    / ((F.col("na") / F.col("_ta") + F.col("nb") / F.col("_tb")) / 2))
        ) * 1_000_000
    ).cast("long")
    return (
        joined.crossJoin(broadcast(tot))
        .select(contrib.alias("_c"), "_n_terms", "_n_both")
        .groupBy("_n_terms", "_n_both")
        .agg(F.sum("_c").alias("js_micro"))
        .select(
            F.col("_n_terms").alias("n_terms"),
            F.col("_n_both").alias("n_shared"),
            F.expr("1000 * _n_both div _n_terms").alias("overlap_milli"),
            "js_micro",
        )
    )


def rake_keywords(
    df: DataFrame,
    top_n: int = 25,
    min_phrase_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents") at corpus scale: candidate
    phrases are the maximal stopword-free word runs; each word scores
    degree/frequency (degree = Σ length of phrases containing it);
    a phrase scores the sum of its words' ratios. The corpus-level
    keyword list a search/tagging pipeline bootstraps from.

    Fully INTEGER: deg and freq are exact counts, the per-word ratio
    is (deg · 10⁶) div freq, and phrase scores are order-free long
    sums of those micros — no float anywhere, bit-identical in any
    engine. ``min_phrase_count`` floors support so one-off phrases
    don't dominate.

    Distributed shape: phrase splitting is narrow; the word agg and
    the phrase agg are hash aggs with map-side combine (cardinality =
    vocab / distinct phrases); the word-ratio table joins back
    AQE-splittable; the cut is TakeOrderedAndProject."""
    from pyspark.storagelevel import StorageLevel

    stop_re = r"\b(?:" + "|".join(sorted(set(STOPWORDS_EN))) + r")\b"
    phrases = (
        text_rows(df, text_col)
        .select(F.split(F.lower(F.col(text_col)), stop_re).alias("_frags"))
        .select(F.explode("_frags").alias("_frag"))
        .select(
            F.trim(F.regexp_replace(F.col("_frag"), r"\s+", " ")).alias("phrase")
        )
        .filter(F.col("phrase") != "")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pw = phrases.select(
        "phrase",
        F.size(F.split(F.col("phrase"), " ")).alias("_len"),
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    words = pw.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("_len").alias("deg"),
    ).withColumn("ratio_micro", F.expr("(deg * 1000000) div freq"))
    pc = phrases.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    scored = (
        pw.select("phrase", "w")
        .distinct()  # a word scores once per phrase TYPE (RAKE scores members)
        .join(words.select("w", "ratio_micro"), "w")
        .groupBy("phrase")
        .agg(F.sum("ratio_micro").alias("score_micro"))
    )
    return (
        scored.join(pc, "phrase")
        .filter(F.col("n_occurrences") >= min_phrase_count)
        .select("phrase", "n_occurrences", "score_micro")
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(top_n)
    )


def textrank_keywords(
    df: DataFrame,
    top_n: int = 20,
    iters: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004, "TextRank:
    Bringing Order into Text") at corpus scale — the graph-based
    complement to RAKE's frequency heuristics: content words are
    nodes, adjacency in the stopword-filtered token stream is a
    weighted undirected edge (weight = corpus-wide co-occurrence
    count), and the keyword score is weighted PageRank over that
    graph, so a word ranks high when it neighbors other high-ranking
    words — not merely when it is frequent.

    Fully integer (micro-unit long ranks via analytics.pagerank's
    weighted recurrence, damping 0.85, fixed ``iters``): the ranked
    list is bit-identical in any engine / partitioning. Tie-break
    (rank desc, word) makes the top-n cut total.

    Distributed shape: tokenize → stopword-filter → adjacent-pair
    derivation are ONE narrow projection (arrays only, no explode
    until the pair rows); the edge aggregation collapses map-side
    into the vocab²-bounded (a, b) keyspace; ranking shuffles the
    ≤vocab-sized edge frame per round (see pagerank's shape notes),
    never the corpus. The corpus is read exactly once."""
    from logprep_spark.plans import analytics as an

    stops = sorted(set(STOPWORDS_EN))
    stoparr = F.array(*[F.lit(s) for s in stops])
    cw = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda x: (x != F.lit("")) & ~F.array_contains(stoparr, x),
    )
    # adjacent pairs of the filtered stream: zip(w[:-1], w[1:]);
    # self-pairs (same word twice in a row) carry no graph signal
    pairs = (
        text_rows(df, text_col)
        .select(cw.alias("_cw"))
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(
                        F.col("_cw"),
                        F.lit(1),
                        F.greatest(F.size("_cw") - 1, F.lit(0)),
                    ).alias("a"),
                    F.expr(
                        "slice(_cw, 2, greatest(size(_cw) - 1, 0))"
                    ).alias("b"),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # r14 (guide §2.1): aggregate the DIRECTED pair stream first —
    # the old symmetric unionAll referenced `pairs` twice, so the
    # whole tokenize → stopword-filter → explode corpus pass ran once
    # per union arm (28 Scan parquet nodes in the committed plan).
    # Counting per ordered pair collapses map-side into the
    # vocab²-bounded keyspace after ONE corpus pass; the symmetric
    # union then re-aggregates only those tiny count rows. Same wt by
    # commutativity of the count.
    from pyspark.storagelevel import StorageLevel

    dir_cnt = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_c"))
        # pinned: both union arms read it; without the pin each arm
        # re-executes the corpus subtree (ReusedExchange is not
        # guaranteed across the differing parent projections)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges = (
        dir_cnt.select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "_c"
        )
        .unionAll(
            dir_cnt.select(
                F.col("b").alias("src"), F.col("a").alias("dst"), "_c"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("_c").alias("wt"))
    )
    ranks = an.pagerank(edges, iters=iters, weight_col="wt")
    return (
        ranks.select(F.col("node").alias("word"), "rank_micro")
        .orderBy(F.col("rank_micro").desc(), "word")
        .limit(top_n)
    )


def readability_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948) — the
    READABILITY member of the quality family (length/punct ratios:
    text_quality, perplexity: text_surprisal; Flesch is the classic
    curriculum / audience-level feature corpus mixes bin on):
    206.835 − 1.015·(words/sentence) − 84.6·(syllables/word), with
    syllables approximated as vowel-group runs ([aeiouy]+ — runs
    never span whitespace, so one whole-text regexp count equals the
    per-word sum) and sentences as [.!?]+ runs (floored at 1).
    Integer MILLI pipeline: both ratios floor to milli first, the
    two products floor-divide by 1000 — every row hash-compares
    cross-engine, unlike a float formula. One narrow projection per
    doc: three regexp counts fused into the scan, no shuffle."""
    w = F.size(tokens(F.col(text_col))).cast("long")
    s = F.greatest(
        F.expr(f"size(regexp_extract_all({text_col}, '[.!?]+', 0))"),
        F.lit(1),
    ).cast("long")
    sy = F.expr(
        f"size(regexp_extract_all(lower({text_col}), '[aeiouy]+', 0))"
    ).cast("long")
    c = df.select(
        F.col(id_col), w.alias("_w"), s.alias("_s"), sy.alias("_sy")
    )
    m = c.select(
        id_col,
        "_w",
        "_s",
        "_sy",
        F.expr("1000 * _w div greatest(_s, 1)").alias("_wps"),
        F.expr("1000 * _sy div greatest(_w, 1)").alias("_spw"),
    )
    return m.select(
        F.col(id_col),
        F.col("_w").alias("n_words"),
        F.col("_s").alias("n_sentences"),
        F.col("_sy").alias("n_syllables"),
        F.expr(
            "206835 - (1015 * _wps) div 1000 - (84600 * _spw) div 1000"
        ).alias("flesch_milli"),
    )


def hashed_gram_stats(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "n_chars",
    id_col: str = "doc_id",
    d: int = 16,
) -> DataFrame:
    """Exact sufficient statistics for a hashed-feature linear model
    (ridge/OLS) in ONE pass: per doc, x_b = count of tokens whose
    md5-h60 hashes into bucket b (the feature-hashing trick —
    Weinberger et al. 2009); emitted are the integer Gram upper
    triangle G = ΣxxT, the moment vector X'y, n and Σy — everything
    the normal equations (G + λI)w = X'y need. THIS is how a linear
    model trains at 100 TB: the d(d+1)/2 + d sums combine map-side
    in one aggregation (no gradient passes, no driver-side data);
    the d x d solve is a driver triviality afterwards. All counts
    and labels are integers, so the statistics are EXACT and
    hash-gate cross-engine — the distributed (expensive) stage is
    gated bit-for-bit, the tiny solve is pytest-gated against a
    dense lstsq.

    Output rows (kind-coded): (i, j>=i, G_ij), (i, -1, X'y_i),
    (-1, -1, n), (-1, -2, Σy)."""
    hs = (
        f"transform(filter(split({text_col}, '\\\\s+'), t -> t != ''),"
        " t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
    )
    feat = df.select(
        F.col(id_col),
        F.col(label_col).cast("long").alias("_y"),
        F.expr(
            f"transform(sequence(0, {d - 1}), b -> CAST(size(filter("
            f"{hs}, h -> h % {d} = b)) AS BIGINT))"
        ).alias("_x"),
    )
    aggs = [F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_sy")]
    names = []
    for i in range(d):
        aggs.append(
            F.expr(f"sum(element_at(_x, {i + 1}) * _y)").alias(f"_b{i}")
        )
        for j in range(i, d):
            aggs.append(
                F.expr(
                    f"sum(element_at(_x, {i + 1})"
                    f" * element_at(_x, {j + 1}))"
                ).alias(f"_g{i}_{j}")
            )
            names.append((i, j))
    wide = feat.agg(*aggs)
    entries = ", ".join(
        f"struct(CAST({i} AS BIGINT) AS i, CAST({j} AS BIGINT) AS j,"
        f" _g{i}_{j} AS v)"
        for i, j in names
    )
    entries += ", " + ", ".join(
        f"struct(CAST({i} AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,"
        f" _b{i} AS v)"
        for i in range(d)
    )
    entries += (
        ", struct(CAST(-1 AS BIGINT) AS i, CAST(-1 AS BIGINT) AS j,"
        " _n AS v)"
        ", struct(CAST(-1 AS BIGINT) AS i, CAST(-2 AS BIGINT) AS j,"
        " _sy AS v)"
    )
    return wide.select(
        F.explode(F.expr(f"array({entries})")).alias("_e")
    ).select(
        F.col("_e.i").alias("i"),
        F.col("_e.j").alias("j"),
        F.col("_e.v").cast("long").alias("v"),
    )


def qlm_search(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    mu: float = 2000.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Query-likelihood language-model retrieval with Dirichlet
    smoothing (Zhai & Lafferty 2001) — the probabilistic-IR
    counterpart to BM25 (the two classic lexical scorers; rank
    disagreements between them are the standard hybrid-search fusion
    motivation): score(q, d) = Σ_t ln((tf(t,d) + μ·cf(t)/T) /
    (|d| + μ)), where cf/T is the collection language model and μ
    the Dirichlet prior mass — long documents need more evidence,
    absent terms cost exactly the smoothed collection probability.

    Distributed shape mirrors bm25_search: the corpus stats (total
    length T and the query terms' collection frequencies) are ONE agg
    → a 1-row broadcast; per-doc scoring is a narrow map against term
    literals; top-k is TakeOrderedAndProject — ZERO corpus shuffles.
    Fixed operand order, one micro rounding at the end, so ranking is
    engine-exact. Scores are negative log-likelihoods (closer to 0 =
    better); docs with none of the terms still score (the smoothing
    mass) — the LM property BM25's zero-floor hides."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    toked = df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_toks")
    )

    def term_count(t: str):
        # real closure, not a default-arg lambda: a two-parameter
        # lambda makes F.filter pass (element, index) — the
        # bm25_search lesson
        return F.size(F.filter("_toks", lambda x: x == F.lit(t)))

    stats = toked.agg(
        F.sum(F.size("_toks")).cast("long").alias("_total_len"),
        *[
            F.sum(term_count(t)).cast("long").alias(f"_cf{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    dl = F.size("_toks").cast("double")

    def term_tf(t: str):
        return term_count(t).cast("double")

    parts = []
    for i, t in enumerate(query_terms):
        tf = term_tf(t)
        # add-one smoothing on the collection model: an OOV query
        # term (cf = 0 — 'shuffle' at sf0.01) otherwise zeroes the
        # smoothed probability and ln blows up; (cf+1)/(T+1) is the
        # standard Laplace floor
        p_c = (F.col(f"_cf{i}").cast("double") + 1.0) / (
            F.col("_total_len") + 1.0
        )
        parts.append(F.log((tf + mu * p_c) / (dl + F.lit(mu))))
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    scored = toked.crossJoin(broadcast(stats)).select(
        F.col(id_col),
        F.round(score * 1_000_000).cast("long").alias("score_micro"),
    )
    win = Window.orderBy(F.col("score_micro").desc(), F.col(id_col).asc())
    return (
        scored.orderBy(F.col("score_micro").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(win).cast("long"))
    )


UNIGRAM_MAX_WORD = 16
UNIGRAM_MAX_PIECE = 4
UNIGRAM_TOP_MULTI = 200


def _unigram_words(df: DataFrame, text_col: str, max_word: int) -> DataFrame:
    """Distinct corpus words of length <= ``max_word`` with their
    occurrence counts — the unigram tokenizer's training/inference
    vocabulary. Returns (w, n_w)."""
    return (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .filter(F.length("w") <= max_word)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n_w"))
    )


def unigram_vocab(
    df: DataFrame,
    text_col: str = "text",
    top_multi: int = UNIGRAM_TOP_MULTI,
    max_piece: int = UNIGRAM_MAX_PIECE,
    max_word: int = UNIGRAM_MAX_WORD,
) -> DataFrame:
    """Candidate-piece vocabulary for the UNIGRAM tokenizer (Kudo
    2018, the SentencePiece unigram model — the other real-world
    subword tokenizer beside BPE): every substring of length
    1..max_piece of every (length ≤ max_word) corpus word, counted
    POSITIONALLY and weighted by word frequency; the vocabulary is
    ALL single characters (segmentability guarantee — every word
    always has at least the char-by-char path) plus the top
    ``top_multi`` multi-char pieces by (count DESC, piece ASC).
    Piece cost = round(1e6·ln(total/count)) over the vocabulary's
    own total — ONE ln per piece, the float discipline; Viterbi then
    MINIMIZES total integer cost. Scale: words aggregate to the
    distinct vocabulary first (Heaps' law), the substring explode is
    ≤ max_word·max_piece per distinct word, and the piece agg
    map-side combines. Returns (piece, cnt, cost_micro)."""
    vocab_w = _unigram_words(df, text_col, max_word)
    subs = vocab_w.select(
        "n_w",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(w)), i ->"
                " transform(sequence(1, least({mp}, length(w) - i + 1)),"
                " l -> substring(w, i, l))))".format(mp=max_piece)
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(F.sum("n_w").cast("long").alias("cnt"))
    singles = counts.filter(F.length("piece") == 1)
    multi = (
        counts.filter(F.length("piece") >= 2)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(top_multi)
    )
    vocab = singles.unionByName(multi)
    total = vocab.agg(F.sum("cnt").cast("long").alias("_tot"))
    return (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "piece",
            "cnt",
            F.round(
                F.lit(1_000_000.0)
                * F.log(F.col("_tot").cast("double") / F.col("cnt"))
            )
            .cast("long")
            .alias("cost_micro"),
        )
    )


def unigram_segment_frame(
    df: DataFrame,
    text_col: str = "text",
    top_multi: int = UNIGRAM_TOP_MULTI,
    max_piece: int = UNIGRAM_MAX_PIECE,
    max_word: int = UNIGRAM_MAX_WORD,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Exact-integer VITERBI segmentation of every distinct corpus
    word under the :func:`unigram_vocab` piece costs — the unigram
    tokenizer's inference pass. Per word the DP key at position e is
    (best_path_cost·100 + chosen_piece_len): one integer MIN per
    position over the candidate pieces ending there, so the key
    simultaneously pins the cost AND the argmin (ties prefer the
    SHORTER piece — deterministic cross-engine). The DP and the
    backtrack are STAGED PROJECTIONS, one per position (the X32
    Hilbert lesson — a nested fold doubles the expression tree per
    level; 16 flat stages keep codegen linear), and the whole thing
    is pure Catalyst — no UDF. Words longer than ``max_word`` are
    excluded by the vocab contract (counted by the catalog row's
    witness). Returns (w, n_w, pieces array<string> in reverse
    order, n_pieces, cost_micro)."""
    vocab_w = _unigram_words(df, text_col, max_word)
    if vocab is None:
        vocab = unigram_vocab(df, text_col, top_multi, max_piece, max_word)
    cand = (
        vocab_w.select(
            "w",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)), i ->"
                    " transform(sequence(1, least({mp},"
                    " length(w) - i + 1)),"
                    " l -> struct(i + l - 1 AS e, l AS l,"
                    " substring(w, i, l) AS piece))))".format(mp=max_piece)
                )
            ).alias("c"),
        )
        .select("w", F.col("c.e").alias("e"), F.col("c.l").alias("l"),
                F.col("c.piece").alias("piece"))
        .join(vocab.select("piece", "cost_micro"), "piece")
    )
    cands = cand.groupBy("w").agg(
        F.array_sort(
            F.collect_list(F.struct("e", "l", F.col("cost_micro").alias("c")))
        ).alias("cands")
    )
    staged = vocab_w.join(cands, "w").withColumn(
        "b", F.expr("array(CAST(0 AS BIGINT))")
    )
    # DP: 16 staged projections, one per position
    for p in range(1, max_word + 1):
        staged = staged.withColumn(
            "b",
            F.expr(
                "CASE WHEN length(w) >= {p} THEN concat(b, array("
                " array_min(transform(filter(cands,"
                " c -> c.e = {p} AND c.l <= {p}),"
                " c -> (element_at(b, {p} - c.l + 1) div 100 + c.c)"
                " * 100 + c.l)))) ELSE b END".format(p=p)
            ),
        )
    # backtrack: 16 staged (piece, position) steps from the last key
    staged = staged.withColumn("p0", F.length("w").cast("int"))
    pieces = []
    prev = "p0"
    for k in range(1, max_word + 1):
        lcol, pcol, scol = f"l{k}", f"p{k}", f"s{k}"
        staged = (
            staged.withColumn(
                lcol,
                F.expr(
                    "CASE WHEN {prev} > 0 THEN CAST("
                    "element_at(b, {prev} + 1) % 100 AS INT)"
                    " ELSE NULL END".format(prev=prev)
                ),
            )
            .withColumn(
                scol,
                F.expr(
                    "CASE WHEN {prev} > 0 THEN"
                    " substring(w, {prev} - {l} + 1, {l})"
                    " ELSE NULL END".format(prev=prev, l=lcol)
                ),
            )
            .withColumn(
                pcol,
                F.expr(
                    "CASE WHEN {prev} > 0 THEN {prev} - {l}"
                    " ELSE 0 END".format(prev=prev, l=lcol)
                ),
            )
        )
        pieces.append(scol)
        prev = pcol
    piece_arr = "filter(array({}), x -> x IS NOT NULL)".format(
        ", ".join(pieces)
    )
    return staged.select(
        "w",
        "n_w",
        F.expr(piece_arr).alias("pieces"),
        F.expr(f"CAST(size({piece_arr}) AS BIGINT)").alias("n_pieces"),
        F.expr(
            "CAST(element_at(b, length(w) + 1) div 100 AS BIGINT)"
        ).alias("cost_micro"),
    )
