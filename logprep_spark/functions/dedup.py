"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash and n-gram-Jaccard dedup over a document
table. Design constraints:

- **Scale**: the only shuffles are on (band_id, band_key) /
  fingerprint keys — the fact table is never self-cross-joined.
  Candidate generation is LSH-bucketed; verification touches only
  candidate pairs. Bucket skew is bounded because band keys are
  near-uniform hashes; AQE's skew-join handles residual hot buckets.
- **Determinism**: every hash is md5-derived (no seed, no JVM
  specifics) so the DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logprep_spark.functions.text import token_windows, tokens

NUM_PERM = 16
BAND_ROWS = 4
NUM_BANDS = NUM_PERM // BAND_ROWS  # 4
# 60 bits (the full width of the md5-derived h60 hash) split into 4
# bands of 15 bits. Band-key cardinality is 2^15 per band — a 16-bit
# simhash bucketed on 8-bit halves capped at 256 distinct keys, which
# degenerates to a near-quadratic self-join at 100 TB. Pigeonhole: docs
# within hamming <= SIMHASH_BANDS-1 (3) of each other agree exactly on
# at least one band, so recall at the default threshold is guaranteed.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1

# Universal-hash permutation family for MinHash: perm_i(h) =
# (A[i]*(h mod P) + B[i]) mod P over the Mersenne prime 2^31-1.
# One md5 per shingle feeds all 16 permutations — 16x fewer digest
# calls than hashing per-permutation, and products stay < 2^62 (no
# int64 overflow). Constants are md5-derived so any engine can
# regenerate them.
MERSENNE_P = (1 << 31) - 1


def _perm_const(tag: str, i: int) -> int:
    import hashlib

    return int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:15], 16) % MERSENNE_P


PERM_A = [_perm_const("a", i) | 1 for i in range(NUM_PERM)]  # odd → never 0
PERM_B = [_perm_const("b", i) for i in range(NUM_PERM)]


def h60(col: Column) -> Column:
    """Deterministic 60-bit hash: first 15 hex digits of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def split_tag(
    key: Column, salt: str = "split", train_pct: int = 80, val_pct: int = 10
) -> Column:
    """Deterministic train/val/test tag: ``h60(salt:key) % 100`` below
    ``train_pct`` is train, below ``train_pct + val_pct`` val, the
    rest test. Same doc (or cluster) lands in the same split on every
    engine, run and partitioning — the randomSplit alternative every
    split in the corpus pipeline uses."""
    b = h60(F.concat(F.lit(salt + ":"), key.cast("string"))) % 100
    return (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def shingles_of(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles over an ALREADY-MATERIALIZED token
    array column. The two-step shape matters: higher-order-function
    lambdas disable common-subexpression elimination, so passing the
    raw ``tokens(text)`` expression here makes ``slice`` re-run the
    regex split once per element (~20x slowdown measured at sf0.1).
    Callers must project the token array in its own select first —
    multiple references to a non-cheap expression also stop Catalyst's
    CollapseProject from inlining it back."""
    return F.array_distinct(token_windows(toks, k))


def shingle_arrays(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, sh) — per-doc distinct shingle array, token split done
    once per row."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    return toked.select(id_col, shingles_of(F.col("_toks"), k).alias("sh"))


def shingles(col: Column, k: int = 3) -> Column:
    """Single-expression form — only for tiny inputs/tests; see
    ``shingles_of`` for why the hot path uses the two-step shape."""
    return shingles_of(tokens(col), k)


# --- exact dedup -------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact (whitespace-normalized)
    text hash. ONE shuffle on the fingerprint and ONE pass over the
    input: a min-id window per hash, not groupBy + self-join — the
    join shape re-derives the (possibly expensive) upstream subtree on
    both sides, doubling any regex/scoring front upstream of the dedup
    (measured on pipeline_training_data). Duplicate groups are tiny,
    so the per-group sort is trivial."""
    from pyspark.sql import Window

    normalized = F.array_join(tokens(F.col(text_col)), " ")
    by_hash = Window.partitionBy("text_hash").orderBy(id_col)
    return (
        df.withColumn("text_hash", F.md5(normalized))
        .withColumn("_rn", F.row_number().over(by_hash))
        .filter(F.col("_rn") == 1)
        .drop("text_hash", "_rn")
    )


def incremental_dedup(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingestion dedup: a NEW batch against the historical
    fingerprint store — the shape a daily crawl pipeline runs (the
    store is yesterday's output of this same op). A batch doc
    survives iff its normalized-text hash is (a) absent from history
    and (b) first (lowest id) within the batch.

    Distributed shape: history contributes ONLY its distinct md5
    column — at 100 TB the store is a bucketed fingerprint table, and
    this anti-join co-locates on the hash (AQE-splittable); the
    in-batch keep-first is the exact_dedup min-id window on the
    SURVIVORS (post-anti-join, so history-matched rows never enter
    the window shuffle)."""
    fp = F.md5(F.array_join(tokens(F.col(text_col)), " "))
    store = history.select(fp.alias("fp")).distinct()
    return incremental_dedup_vs_store(batch, store, text_col, id_col)


def incremental_dedup_vs_store(
    batch: DataFrame,
    fp_store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`incremental_dedup` against the PERSISTED fingerprint
    store (a frame/parquet with one ``fp`` md5 column) — the form a
    production daily-crawl pipeline actually runs: history text is
    never re-read, the store is yesterday's artifact (the
    pipeline_pretrain_incremental posture). Same rule: a batch doc
    survives iff its fingerprint is absent from the store and first
    (lowest id) within the batch."""
    from pyspark.sql import Window

    fp = F.md5(F.array_join(tokens(F.col(text_col)), " "))
    hist = fp_store.select(F.col("fp").alias("_fp")).distinct()
    fresh = batch.withColumn("_fp", fp).join(hist, "_fp", "left_anti")
    by_hash = Window.partitionBy("_fp").orderBy(id_col)
    return (
        fresh.withColumn("_rn", F.row_number().over(by_hash))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups: (text_hash, n_dups, keeper_id), groups > 1."""
    normalized = F.array_join(tokens(F.col(text_col)), " ")
    return (
        df.select(F.md5(normalized).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_dups") > 1)
    )


def substring_dup_groups(
    df: DataFrame, k: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-substring duplication at k-token-window granularity (the
    training-data technique of Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": long verbatim spans
    shared across documents, which MinHash's whole-doc similarity can
    miss between otherwise-different docs).

    Suffix arrays don't distribute; the Spark shape is a rolling
    window: per-doc DISTINCT k-token windows (narrow, staged token
    array — see shingles_of), explode, 60-bit window hash, one
    hash-keyed shuffle groups docs sharing any window. Returns
    (window_hash, n_docs, keeper_id) for windows seen in >1 doc;
    docs shorter than k contribute their full text as one window.
    """
    # isNotNull(text) companion (pushable): a null text yields a NULL
    # shingle array, which the explode below already drops — zero row
    # change; empty text keeps its documented one-window convention
    sha = shingle_arrays(
        df.filter(F.col(text_col).isNotNull()), text_col=text_col,
        id_col=id_col, k=k,
    )
    wins = sha.select(F.col(id_col), F.explode("sh").alias("_w"))
    return (
        wins.groupBy(h60(F.col("_w")).alias("window_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
    )


def substring_dup_spans(
    df: DataFrame, k: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MAXIMAL duplicated spans per document (Lee et al. 2022 report
    maximal substrings; :func:`substring_dup_groups`'s fixed-k windows
    over-fragment a long verbatim run into dozens of overlapping
    window rows). Adjacent duplicated windows merge into one span:
    (doc_id, span_start, span_end, n_windows, span_tokens), token
    positions 1-based inclusive.

    Distributed shape: positional k-token windows (posexplode over the
    staged token array), 60-bit window hash, ONE hash-keyed shuffle
    marks windows seen in >1 distinct doc (two-phase count-distinct —
    partial agg shrinks map-side), join back on the hash (equi-join,
    AQE-skew-splittable for a boilerplate window shared by millions of
    docs), then gaps-and-islands per doc: island id = pos -
    row_number() over (doc ORDER BY pos). The per-doc window is
    bounded by document length — never a scale concern.
    """
    from pyspark.sql import Window

    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    wins = toked.select(
        F.col(id_col), F.posexplode(token_windows("_toks", k)).alias("_pos0", "_w")
    ).select(
        id_col,
        (F.col("_pos0") + 1).cast("long").alias("pos"),
        h60(F.col("_w")).alias("window_hash"),
    )
    # persisted (MinHash staging discipline): the dup-hash agg and the
    # mark-join both consume wins with different plans — unpersisted,
    # the whole scan+tokenize+posexplode subtree would run twice
    from pyspark.storagelevel import StorageLevel

    wins = wins.persist(StorageLevel.MEMORY_AND_DISK)
    dup_hashes = (
        wins.groupBy("window_hash")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") > 1)
        .select("window_hash")
    )
    marked = wins.join(dup_hashes, "window_hash")
    by_doc = Window.partitionBy(id_col).orderBy("pos")
    return (
        marked.withColumn("_isl", F.col("pos") - F.row_number().over(by_doc))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            "n_windows",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / PaLM
    approach): flag every training document sharing at least one
    k-token window (k=13 is the published choice) with an evaluation
    benchmark, so it can be dropped before training. Returns
    (doc_id, n_contaminated_windows) for flagged docs only.

    Distributed shape: benchmark windows hash to 60 bits and
    aggregate to a DISTINCT hash set — the benchmark side is tiny
    relative to the corpus (eval sets, not training data), so the set
    BROADCASTS and corpus windows never shuffle for the probe: the
    plan is scan -> explode -> broadcast-hash-join -> per-doc partial
    agg. One corpus shuffle total (the final per-doc count), keyed by
    doc_id — never by the (possibly hot) window hash.
    """
    from pyspark.sql.functions import broadcast

    bench_hashes = (
        window_hashes(benchmark, k, text_col, id_col)
        .select("window_hash")
        .distinct()
    )
    return (
        window_hashes(corpus, k, text_col, id_col)
        .join(broadcast(bench_hashes), "window_hash")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_windows"))
    )


def window_hashes(
    df: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional k-token window hashes per document — the shared
    fingerprint primitive under :func:`contamination_flags` (exact
    13-gram overlap) and the Bloom decontamination gate
    (pipeline_pretrain_v3): (id, window_hash) with one row per
    window position (non-distinct — callers distinct where set
    semantics apply). Narrow explode; h60 md5 hashes so both
    engines fingerprint identically."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    return toked.select(
        F.col(id_col), F.explode(token_windows("_toks", k)).alias("_w")
    ).select(id_col, h60(F.col("_w")).alias("window_hash"))


# --- MinHash + LSH -----------------------------------------------------


def minhash_signature_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_perm: int = NUM_PERM
) -> DataFrame:
    """(id, h0..h{num_perm-1}) min-hash signature columns.

    Fully narrow — ZERO shuffles: the shingle hashes stay inside an
    array column and each permutation minimum is
    ``array_min(transform(hb, ...))`` per row. Two shapes considered
    and rejected:

    - explode + groupBy(id).agg(min): correct, but adds a shuffle of
      one row per shingle, and ``explode`` over a computed array is a
      measured 4.5x slowdown (Generate re-derives its child
      expression; 4.7s vs 1.05s at sf0.1).
    - everything in ONE select (shingles inlined into all 16 mins):
      Catalyst re-inlines the shingle expression per permutation —
      ~256x tree blowup, 197s at sf0.01.

    The staging discipline that keeps both pathologies away: project
    the token array, then the shingle array, then the base-hash array
    ``hb``, each in its OWN select; 16 references to non-cheap ``hb``
    stop CollapseProject from inlining it.
    """
    sh = shingle_arrays(df, text_col, id_col)
    hb = sh.select(
        F.col(id_col),
        F.transform("sh", lambda s: h60(s) % MERSENNE_P).alias("hb"),
    )
    # one parsed SQL expression per permutation (the plan-BUILD
    # discipline of similarity._centroid_literals: Column-object
    # composition costs a py4j round-trip per node)
    return hb.selectExpr(
        id_col,
        *[
            f"array_min(transform(hb, x -> ({PERM_A[i]} * x + {PERM_B[i]})"
            f" % {MERSENNE_P})) AS h{i}"
            for i in range(num_perm)
        ],
    )


def minhash_bands(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, band_id, band_key) — one row per band per doc."""
    sig = minhash_signature_df(df, text_col, id_col)
    return bands_from_signature(sig, id_col)


def bands_from_signature(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Narrow banding over a (possibly persisted) signature frame."""
    structs = ", ".join(
        "struct({b} AS band_id, md5(concat_ws('-', {cols})) AS band_key)".format(
            b=b,
            cols=", ".join(
                f"CAST(h{b * BAND_ROWS + r} AS STRING)" for r in range(BAND_ROWS)
            ),
        )
        for b in range(NUM_BANDS)
    )
    return sig.selectExpr(id_col, f"explode(array({structs})) AS band").selectExpr(
        id_col, "band.band_id AS band_id", "band.band_key AS band_key"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >=1 LSH band.

    The self-join shuffles only (band_id, band_key) — never the text.

    The signature frame (num_perm longs per doc — tiny next to the
    text) is persisted before the self-join: the two join sides
    project different id aliases, so Spark's exchange reuse can't
    kick in and an unpersisted plan would run the whole
    shingle+hash subtree twice. This is the LSH-pipeline equivalent of
    writing a signature stage table — at 100 TB you'd checkpoint it to
    parquet; MEMORY_AND_DISK is the in-session version (measured ~2x
    end-to-end at sf0.1).
    """
    from pyspark.storagelevel import StorageLevel

    from logprep_spark.session import fan_out

    # the testdata parquet arrives as ONE input split (single row
    # group); the signature + band-join pipeline is the expensive part
    # of dedup, so spread the scan across the session's cores first.
    # Measured at sf0.1 (post-JIT): full pipeline 5.0s single-partition
    # vs 2.4s fanned out. No-op when the input is already parallel.
    df = fan_out(df)
    sig = minhash_signature_df(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = bands_from_signature(sig, id_col)
    left = bands.select(
        F.col("band_id"), F.col("band_key"), F.col(id_col).alias("id_a")
    )
    right = bands.select(
        F.col("band_id"), F.col("band_key"), F.col(id_col).alias("id_b")
    )
    return (
        left.join(right, on=["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (verification stage).
    Joins shingle sets onto the pair list — cost scales with the
    candidate count, not n^2. The shingle frame is persisted: it feeds
    BOTH pair sides under different aliases, which defeats exchange
    reuse and would run the tokenize+shingle subtree twice."""
    from pyspark.storagelevel import StorageLevel

    sh = shingle_arrays(df, text_col, id_col, k).persist(StorageLevel.MEMORY_AND_DISK)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Verified near-dup pairs: LSH candidates with true Jaccard >=
    threshold. The full MinHash->LSH->verify pipeline.

    Verification only shingles docs that appear in a candidate pair
    (left-semi prune). At 100 TB the candidate set is orders of
    magnitude smaller than the corpus, so the expensive
    array_intersect/union verify never touches non-candidate text.

    The pair list is persisted: it feeds THREE consumers (id_a and
    id_b sides of the candidate-id union, then the verify join), and
    unpersisted the whole band-self-join subtree replicates per
    consumer — measured 16 Exchanges / 10 Generates in the physical
    plan vs 6/4 persisted. Candidate pairs are two longs per row —
    at 100 TB you'd write the pair stage to a table; MEMORY_AND_DISK
    is the in-session equivalent.
    """
    from pyspark.storagelevel import StorageLevel

    pairs = minhash_lsh_pairs(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    candidates = df.join(cand_ids, id_col, "left_semi")
    return ngram_jaccard(candidates, pairs, text_col, id_col).filter(
        F.col("jaccard") >= threshold
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CROSS-SET fuzzy benchmark decontamination — the MinHash
    variant of :func:`contamination_flags` (The Pile / GPT-3 ran
    both): the exact 13-gram pass catches verbatim spans, THIS
    catches paraphrase-grade contamination — a training doc that is
    a near-duplicate of an eval doc without sharing a single
    13-token window verbatim. Corpus bands join BENCHMARK bands
    (cross-set, not self-join), candidates verify by true shingle
    Jaccard, and every corpus doc with a verified match >= threshold
    is flagged with its match count and best-matching eval doc.

    Distributed shape: the benchmark side is tiny (eval sets), so
    its band frame BROADCASTS — the corpus's band stream never
    shuffles for candidate generation; verification left-semi-prunes
    both sides to candidates before any shingle materializes (the
    minhash_dedup discipline). Returns one row per flagged corpus
    doc: (doc_id, n_bench_matches, best_jaccard, best_bench_id) —
    best = highest Jaccard, ties to the lowest eval id
    (deterministic)."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    cb = minhash_bands(corpus, text_col, id_col)
    bb = minhash_bands(bench, text_col, id_col).select(
        F.col(id_col).alias("_bench_id"), "band_id", "band_key"
    )
    cand = (
        cb.join(F.broadcast(bb), ["band_id", "band_key"])
        .select(F.col(id_col), F.col("_bench_id"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c_docs = corpus.join(cand.select(id_col), id_col, "left_semi")
    b_docs = bench.join(
        cand.select(F.col("_bench_id").alias(id_col)), id_col, "left_semi"
    )
    sh_c = shingle_arrays(c_docs, text_col, id_col).select(
        F.col(id_col), F.col("sh").alias("_sh_c")
    )
    sh_b = shingle_arrays(b_docs, text_col, id_col).select(
        F.col(id_col).alias("_bench_id"), F.col("sh").alias("_sh_b")
    )
    inter = F.size(F.array_intersect("_sh_c", "_sh_b"))
    union = F.size(F.array_union("_sh_c", "_sh_b"))
    ver = (
        cand.join(sh_c, id_col)
        .join(F.broadcast(sh_b), "_bench_id")
        .select(
            id_col,
            "_bench_id",
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias(
                "_jaccard"
            ),
        )
        .filter(F.col("_jaccard") >= threshold)
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_jaccard").desc(), F.col("_bench_id").asc()
    )
    return (
        ver.withColumn("_rn", F.row_number().over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bench_matches"),
            F.max("_jaccard").alias("best_jaccard"),
            F.min(
                F.when(F.col("_rn") == 1, F.col("_bench_id"))
            ).alias("best_bench_id"),
        )
    )


# --- SimHash -----------------------------------------------------------


def simhash(col: Column, bits: int = SIMHASH_BITS) -> Column:
    """Token-level SimHash: bit j is set when more than half the
    distinct token hashes carry bit j. Bit votes are native
    size/filter aggregations over the token-hash array."""
    hashes = F.transform(F.array_distinct(tokens(col)), h60)
    n = F.size(hashes)

    def bit_set(j: int):
        return lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1

    bit_terms = [
        F.when(
            F.size(F.filter(hashes, bit_set(j))) * 2 > n,
            F.lit(1 << j),
        ).otherwise(F.lit(0))
        for j in range(bits)
    ]
    out = bit_terms[0]
    for term in bit_terms[1:]:
        out = out + term
    return out.cast("long")


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, sh) SimHash per doc — fully narrow, ZERO shuffles: the
    distinct-token hashes stay in an array column and each bit vote is
    a per-row ``size(filter(...))``. The explode + groupBy vote-sum
    shape was measured 1.5x slower at sf0.1 (Generate re-derives its
    computed-array child; same pathology as minhash_signature_df) and
    needs a shuffle this form doesn't. Token-less docs vote all-zeros
    -> sh = 0, matching the DuckDB oracle."""
    hs = df.select(
        F.col(id_col),
        F.transform(F.array_distinct(tokens(F.col(text_col))), h60).alias("hs"),
    )
    n = F.size("hs")

    def vote(j: int) -> Column:
        return F.size(
            F.filter("hs", lambda x: F.shiftright(x, j).bitwiseAND(F.lit(1)) == 1)
        )

    out = F.lit(0)
    for j in range(bits):
        out = out + F.when(vote(j) * 2 > n, F.lit(1 << j)).otherwise(F.lit(0))
    return hs.select(id_col, out.cast("long").alias("sh"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded LSH-style:
    the 60-bit simhash splits into 4 disjoint 15-bit band keys and the
    self-join runs per (band_id, band_key). Pigeonhole guarantees
    recall for hamming <= 3 (at most 3 bands can differ, so one band
    matches exactly); band-key cardinality 2^15 keeps bucket sizes
    ~n/32768 — no near-quadratic blowup at scale (the old 8-bit-half
    scheme capped at 256 keys)."""
    from pyspark.storagelevel import StorageLevel

    sh = simhash_df(df, text_col, id_col)
    banded = sh.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright("sh", b * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(SIMHASH_BAND_MASK))
                        .alias("key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bucket"),
    ).select(id_col, "sh", "bucket.band_id", "bucket.key")
    # persisted (the MinHash materialize discipline): the two join
    # sides project different aliases, so without it the whole
    # signature subtree (token hashing + 60 bit-votes) runs twice
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    a = banded.select(
        F.col("band_id"), F.col("key"), F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")
    )
    b = banded.select(
        F.col("band_id"), F.col("key"), F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, on=["band_id", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming <= max_hamming)
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
    )


# --- embedding cosine near-dup ----------------------------------------


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity via native higher-order functions — double
    accumulation left-to-right (zip_with + aggregate), no UDF."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_a = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    norm_b = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return dot / (norm_a * norm_b)


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold.

    Scale path: random-hyperplane LSH buckets (md5-derived plane
    weights, deterministic) prune candidates — vectors agreeing on all
    ``n_planes`` sign bits land in one bucket; only buckets join.
    At 0.95+ cosine, sign agreement is near-certain for all planes.
    """
    from logprep_spark.functions.similarity import hyperplane_bucket, probe_dim

    vec = F.col(vec_col)
    bucketed = df.select(
        F.col(id_col), vec, hyperplane_bucket(vec, n_planes, probe_dim(df, vec_col)).alias("bucket")
    )
    a = bucketed.select(
        F.col("bucket"), F.col(id_col).alias("id_a"), vec.alias("vec_a")
    )
    b = bucketed.select(
        F.col("bucket"), F.col(id_col).alias("id_b"), vec.alias("vec_b")
    )
    sim = cosine_sim(F.col("vec_a"), F.col("vec_b"))
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(sim, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.35,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then drop any
    vector whose cosine to a lower-id vector IN THE SAME CLUSTER
    exceeds the threshold. Output is one row per dropped vector:
    (vec_id, keeper_id, cosine) where keeper_id is the lowest-id
    partner above threshold — the greedy keep-first policy every
    other dedup op here uses.

    Distributed shape: cluster assignment reuses the IVF machinery
    (:func:`similarity.ivf_assign`) — centroids are plan literals, so
    assignment is a zero-shuffle narrow map; the ONLY shuffle is the
    bucket-keyed self-join (SemDeDup's entire point: within-cluster
    pairs only, never all-pairs). The keeper choice is a (dropped-id)
    keyed partial agg (min_by). At 100 TB you'd train real k-means
    centroids and raise n_centroids so buckets stay executor-sized —
    the plan shape is unchanged."""
    from logprep_spark.functions import similarity as sim

    cvecs = sim.ivf_centroids(df, n_centroids, vec_col, id_col)
    # out_norm: per-vector norms are staged ONCE in the assignment map
    # — the pair verify below would otherwise re-fold both norms per
    # PAIR (|bucket|²/2 folds instead of n); dot / (na * nb) keeps the
    # exact operand order of cosine_sim, so values are unchanged
    assigned = sim.ivf_assign(
        df, cvecs, vec_col, id_col, out_id="_id", out_vec="_vec", out_norm="_vn"
    )
    a = assigned.select(
        "bucket", F.col("_id").alias("id_a"), F.col("_vec").alias("vec_a"),
        F.col("_vn").alias("norm_a"),
    )
    b = assigned.select(
        "bucket", F.col("_id").alias("id_b"), F.col("_vec").alias("vec_b"),
        F.col("_vn").alias("norm_b"),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("vec_a"), F.col("vec_b"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos = F.round(dot / (F.col("norm_a") * F.col("norm_b")), 6)
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    return (
        pairs.groupBy("id_b")
        .agg(
            F.min("id_a").alias("keeper_id"),
            F.min_by("cosine", "id_a").alias("cosine"),
        )
        .select(F.col("id_b").alias(id_col), "keeper_id", "cosine")
    )


# --- near-dup clustering ----------------------------------------------


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(doc_id, cluster_id) connected components over near-dup pairs —
    the step after pair detection in a training-data dedup pipeline:
    every doc in a duplicate cluster gets the cluster's minimum id, so
    "keep one doc per cluster" is a trivial filter.

    Distributed min-label propagation (the classic iterative-join CC):
    each round every node takes the min of its own and its neighbors'
    labels; converges in O(cluster diameter) rounds — near-dup
    clusters are shallow (pairs come from a similarity threshold), so
    a handful of rounds in practice. Each round is one shuffle join +
    one aggregation; labels are persisted per round to cut lineage
    (at 100 TB you would checkpoint every few rounds instead). The
    driver loop only coordinates rounds and checks a converged flag —
    all data movement stays on executors.
    """
    # localCheckpoint (not persist): every round joins the edges, and
    # persist alone keeps the upstream pair pipeline's full logical
    # plan — Catalyst re-analyzes that giant lineage on every round's
    # action (measured 28s for a 47-row result at sf0.01; 3s once
    # truncated). On a cluster you'd use reliable checkpoint() instead.
    sym = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .persist()
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("nbr_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min.withColumnRenamed("src", "id"), "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_min", F.col("label")) < F.col("label")).alias(
                    "_changed"
                ),
            )
            # lazy pin + one agg action (r15): the eager checkpoint
            # ran a full materialization pass and THEN isEmpty ran a
            # second job over the pinned blocks — two driver-blocking
            # jobs per round of mostly fixed overhead. The lazy
            # checkpoint plans now (lineage still truncated for the
            # next round) and the convergence agg is the ONE action
            # that both materializes/pins the round's blocks and
            # returns the flag. max(_changed) over an empty frame is
            # NULL -> converged, matching filter(_changed).isEmpty().
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.max("_changed").alias("c")).first()["c"]
        converged = not bool(changed)
        labels.unpersist()
        labels = new_labels.drop("_changed")
        if converged:
            break
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_occurrences: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level duplicated-line removal (the CCNet / RefinedWeb
    pre-dedup step: boilerplate lines — nav menus, cookie banners,
    license headers — repeat across millions of pages and survive
    whole-document MinHash because each HOST document differs). A
    non-blank line whose exact text occurs >= ``min_occurrences``
    times in the corpus is kept only at its first corpus occurrence
    (lowest (doc_id, line_no)) and dropped everywhere else.

    Returns one row per input document: (id, text_col [lines rejoined
    with ``sep``], n_lines, n_removed). A document whose every line is
    removed keeps an empty-string text.

    Distributed shape: posexplode the split (narrow), per-hash
    (count, first-occurrence) via ``groupBy(_h)`` — PARTIAL
    AGGREGATION is the skew defense: a cookie banner repeated a
    billion times combines map-side to one row per task, where a
    window over the hash (the shape this replaced) would concentrate
    all billion rows in one partition that AQE cannot split — then an
    AQE-skew-splittable equi-join back on the hash and one doc-keyed
    shuffle to reassemble (array_sort over collected (line_no, line)
    structs; per-doc state bounded by document length). The md5 keeps
    long boilerplate lines from shuffling verbatim. First occurrence
    = ``min(struct(doc_id, line_no))`` — lexicographic struct min,
    computed inside the same partial agg.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("_ln", "_line"),
    )
    # blank lines never participate in dedup (they'd all collapse to
    # one global survivor); null hash rows pass through untouched
    h = F.when(F.length(F.trim("_line")) > 0, F.md5("_line"))
    hashed = lines.withColumn("_h", h)
    stats = (
        hashed.filter(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.min(F.struct(F.col(id_col).alias("d"), F.col("_ln").alias("l"))).alias(
                "_first"
            ),
        )
    )
    marked = hashed.join(stats, "_h", "left").withColumn(
        "_keep",
        F.col("_h").isNull()
        | (F.col("_cnt") < min_occurrences)
        | (
            (F.col("_first.d") == F.col(id_col))
            & (F.col("_first.l") == F.col("_ln"))
        ),
    )
    kept_struct = F.when(F.col("_keep"), F.struct("_ln", "_line"))
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["_line"]
                ),
                sep,
            ).alias(text_col),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("_keep"), 0).otherwise(1)).alias("n_removed"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS scheme): hash every k-token gram, slide a
    w-hash window, keep each window's MINIMUM hash. Guarantee: any
    verbatim match of at least w + k - 1 tokens shares a selected
    fingerprint, while storing ~2/(w+1) of the gram hashes — the
    storage/recall dial substring_dup_groups (all windows) doesn't
    have. Ties take the lowest position; with 60-bit hashes ties are
    vanishing, so engines agree.

    Returns shared-fingerprint groups (fingerprint, n_docs,
    keeper_id) for fingerprints selected in more than one document.

    Distributed shape: gram hashing and window minima stay inside
    array columns (one narrow projection, no explode of raw grams —
    only the ~2/(w+1)-selected minima explode); the ONLY shuffle is
    the fingerprint-keyed partial agg."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    kh = token_windows("_toks", k, each=h60)
    staged = toked.select(F.col(id_col), kh.alias("_kh"))
    m = F.size("_kh")
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1))),
            lambda j: F.array_min(F.slice("_kh", j, w)),
        )
    )
    fps = staged.select(F.col(id_col), F.explode(sel).alias("fingerprint"))
    return (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
    )


def near_dup_vs_history(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    keep_all: bool = False,
) -> DataFrame:
    """Incremental NEAR-dup suppression: the new batch probed against
    the historical corpus's LSH band store — :func:`incremental_dedup`
    catches byte-identical re-crawls, this catches the re-rendered /
    lightly-edited ones. One row per near-duplicate batch doc:
    (doc_id, hist_id, jaccard) with the lowest-id historical match —
    or, with ``keep_all=True``, EVERY verified (batch, history) pair
    (the cluster-atomic split's bridge set).

    Distributed shape: the history side contributes only its (band,
    key, id) rows — in production that is yesterday's PERSISTED band
    table, not a recompute; the probe is the (band, key)-keyed join
    (never batch x history), candidates distinct to two-long rows,
    and the expensive shingle-Jaccard verify left-semi-prunes BOTH
    corpora to candidate docs first — the minhash_dedup verify
    discipline applied across the batch/history boundary."""
    from logprep_spark.session import fan_out

    bh = minhash_bands(fan_out(history), text_col, id_col).select(
        F.col(id_col).alias("hist_id"), "band_id", "band_key"
    )
    sh = shingle_arrays(history, text_col, id_col).select(
        F.col(id_col).alias("hist_id"), "sh"
    )
    return near_dup_vs_band_store(
        batch, bh, sh, text_col, id_col, threshold, keep_all
    )


def near_dup_vs_band_store(
    batch: DataFrame,
    hist_bands: DataFrame,
    hist_shingles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    keep_all: bool = False,
) -> DataFrame:
    """:func:`near_dup_vs_history` against the PERSISTED band store —
    the artifacts a production pipeline actually keeps: ``hist_bands``
    (hist_id, band_id, band_key) for candidate generation and
    ``hist_shingles`` (hist_id, sh) for verification, so history TEXT
    is never re-read (the pipeline_pretrain_incremental posture).
    Semantics identical to near_dup_vs_history by construction (it
    delegates here after deriving both frames from raw history)."""
    from pyspark.storagelevel import StorageLevel

    from logprep_spark.session import fan_out

    bh = hist_bands.select("hist_id", "band_id", "band_key")
    bb = minhash_bands(fan_out(batch), text_col, id_col).select(
        F.col(id_col).alias("batch_id"), "band_id", "band_key"
    )
    cand = (
        bb.join(bh, ["band_id", "band_key"])
        .select("batch_id", "hist_id")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sa = shingle_arrays(
        batch.join(
            cand.select(F.col("batch_id").alias(id_col)), id_col, "left_semi"
        ),
        text_col,
        id_col,
    ).select(F.col(id_col).alias("batch_id"), F.col("sh").alias("sh_b"))
    sb = hist_shingles.join(
        cand.select("hist_id"), "hist_id", "left_semi"
    ).select("hist_id", F.col("sh").alias("sh_h"))
    inter = F.size(F.array_intersect("sh_h", "sh_b"))
    union = F.size(F.array_union("sh_h", "sh_b"))
    verified = (
        cand.join(sa, "batch_id")
        .join(sb, "hist_id")
        .select(
            "batch_id",
            "hist_id",
            F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if keep_all:
        # every verified (batch, history) pair — the cluster-atomic
        # incremental split needs the full bridge set (a delta doc
        # matching TWO base clusters must merge them; the min-match
        # collapse below would hide the second bridge end)
        return verified.select(
            F.col("batch_id").alias(id_col), "hist_id", "jaccard"
        )
    return (
        verified.groupBy("batch_id")
        .agg(
            F.min("hist_id").alias("hist_id"),
            F.min_by("jaccard", "hist_id").alias("jaccard"),
        )
        .select(F.col("batch_id").alias(id_col), "hist_id", "jaccard")
    )


def minhash_estimate(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Sketch-calibration report for the MinHash pipeline — the
    accuracy witness next to the HLL/GK sketch queries: for every LSH
    candidate pair, the signature-estimated Jaccard (fraction of
    agreeing permutation minima, the estimator LSH banding is built
    on) NEXT TO the exact shingle Jaccard, plus the absolute error.
    This is the audit a pipeline runs before trusting a banding
    config: if est_milli drifts from exact_milli, NUM_PERM is too
    small for the document length distribution.

    All integers: est = 1000·matches div NUM_PERM from exact long
    signature equality; exact = the verify join's rounded Jaccard in
    milli. Distributed shape: signatures persist once and feed both
    the banding self-join AND the per-pair estimate join (two narrow
    16-long rows per pair); exact verification left-semi-prunes to
    candidate docs — the minhash_dedup discipline."""
    from pyspark.storagelevel import StorageLevel

    from logprep_spark.session import fan_out

    df = fan_out(df)
    sig = minhash_signature_df(df, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = bands_from_signature(sig, id_col)
    left = bands.select("band_id", "band_key", F.col(id_col).alias("id_a"))
    right = bands.select("band_id", "band_key", F.col(id_col).alias("id_b"))
    pairs = (
        left.join(right, on=["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig_arr = sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(NUM_PERM)]).alias("_sig"),
    )
    est = (
        pairs.join(sig_arr.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sa")), "id_a")
        .join(sig_arr.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                f"1000 * size(filter(zip_with(_sa, _sb, (a, b) -> a = b), x -> x))"
                f" div {NUM_PERM}"
            ).alias("est_milli"),
        )
    )
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    candidates = df.join(cand_ids, id_col, "left_semi")
    exact = ngram_jaccard(candidates, pairs, text_col, id_col).select(
        "id_a", "id_b", F.round(F.col("jaccard") * 1000).cast("long").alias("exact_milli")
    )
    return est.join(exact, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "est_milli",
        "exact_milli",
        F.abs(F.col("est_milli") - F.col("exact_milli")).alias("abs_err_milli"),
    )


# --- exact set-similarity join (prefix filtering) ---------------------


def setsim_prefix_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau_milli: int = 500,
    k: int = 3,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering — the
    deterministic complement to MinHash LSH (reference behavior:
    logprep/processor/deduplicator re-emits only novel events; this
    is the corpus-scale pair discovery that feeds such gates when
    false negatives are not acceptable).

    Technique (public: Chaudhuri et al. ICDE'06 SSJoin; Xiao et al.
    WWW'08 PPJoin): order each doc's distinct k-shingles globally
    RAREST-FIRST (ascending document frequency, shingle text as the
    tie-break), keep only the first ``s - ceil(tau*s) + 1`` as the
    doc's PREFIX. Two sets with Jaccard >= tau MUST share a prefix
    element (pigeonhole: disjoint prefixes leave fewer than tau*s
    common elements), so joining on prefix shingles alone finds every
    qualifying pair — exactness the brute-force DuckDB oracle gates.

    Candidate pruning, in order:
      * LENGTH: tau*max(s_a, s_b) <= min(s_a, s_b);
      * POSITIONAL (PPJoin): a qualifying pair's MINIMAL shared
        prefix shingle g0 admits no common element before it (a
        smaller common element would itself be a shared prefix
        shingle in the same global order), so overlap <=
        1 + min(s_a - pos_a - 1, s_b - pos_b - 1) at g0, which must
        reach ceil(tau*(s_a+s_b)/(1+tau)). Applied per matched row:
        the minimal row's bound is valid and the largest, so a
        qualifying pair always survives; non-minimal rows dropped by
        the same test were redundant duplicates of the pair anyway
        (measured at sf0.1: 310k candidate rows -> a few hundred,
        the difference between a 21 s and a ~5 s query).

    Scale shape: the document-frequency agg is vocabulary-sized with
    map-side partial aggregation; candidate generation explodes ONLY
    prefixes, whose join-key fan-out is bounded by construction
    (hot shingles sit LAST in the rarity order, so they enter a
    prefix only when the positional remainder is too short to
    qualify — the filter above deletes exactly those rows);
    verification shuffles only surviving pairs on doc id, against a
    persisted-once shingle frame (built once, read three times).
    All arithmetic integer-milli so the pair set and scores
    hash-compare bit-for-bit across engines.
    """
    from pyspark.storagelevel import StorageLevel

    sh = (
        shingle_arrays(df, text_col, id_col, k)
        .withColumn("_s", F.size("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tok = sh.select(id_col, "_s", F.explode("sh").alias("_g"))
    dfreq = tok.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    ordered = (
        tok.join(dfreq, "_g")
        .groupBy(id_col, "_s")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_g"))).alias("_o"))
    )
    # prefix length p = s - ceil(tau*s/1000) + 1  (0-based: pos < p)
    p = (
        F.col("_s")
        - F.ceil(F.col("_s") * F.lit(tau_milli) / F.lit(1000.0)).cast("int")
        + F.lit(1)
    )
    # pre pinned (r14): both self-join sides read it under different
    # aliases (exchange reuse never fires), so the explode → doc-
    # frequency join → collect_list → posexplode chain ran once per
    # side; the prefix frame is ~(1-tau)·|shingles| rows — bounded
    pre = (
        ordered.select(
            F.col(id_col), F.col("_s"), F.posexplode(F.col("_o._g"))
        )
        .filter(F.col("pos") < p)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = pre.select(
        F.col(id_col).alias("id_a"), F.col("_s").alias("_sa"),
        F.col("pos").alias("_pa"), "col",
    )
    b = pre.select(
        F.col(id_col).alias("id_b"), F.col("_s").alias("_sb"),
        F.col("pos").alias("_pb"), "col",
    )
    positional = F.lit(1000 + tau_milli) * (
        F.lit(1)
        + F.least(
            F.col("_sa") - F.col("_pa") - 1, F.col("_sb") - F.col("_pb") - 1
        )
    ) >= F.lit(tau_milli) * (F.col("_sa") + F.col("_sb"))
    cand = (
        a.join(b, "col")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.lit(1000) * F.least("_sa", "_sb")
                >= F.lit(tau_milli) * F.greatest("_sa", "_sb")
            )
            & positional
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # broadcast the per-doc array side (r15, guide §3.1): the verify
    # attaches one array row per doc to the MUCH larger candidate-pair
    # frame; the planner's estimate put the array frame over the
    # broadcast threshold and sort-merge-joined the pairs instead —
    # measured 3.6 s vs 0.47 s for the containment twin's verify at
    # sf0.1 (174k pairs, 5k docs). One row per doc of k-shingle
    # metadata is the bounded side by construction here; a corpus
    # whose per-doc shingle frame outgrows the broadcast cap would
    # drop the hint and keep the shuffle form (the at-scale posture
    # documented on minhash_dedup's candidate-pruned verify).
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("_ta"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("_tb"))
    ver = (
        cand.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect("_ta", "_tb")).cast("long")
        )
        .withColumn(
            "n_union",
            (F.size("_ta") + F.size("_tb")).cast("long") - F.col("n_inter"),
        )
        .filter(
            F.lit(1000) * F.col("n_inter")
            >= F.lit(tau_milli) * F.col("n_union")
        )
    )
    return ver.select(
        "id_a",
        "id_b",
        "n_inter",
        "n_union",
        F.expr("1000 * n_inter div n_union").alias("jaccard_milli"),
    )


def containment_prefix_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau_milli: int = 800,
    k: int = 3,
) -> DataFrame:
    """EXACT containment-threshold join: ordered pairs (a, b), a != b,
    with C(a in b) = |A∩B| / |A| >= tau — the ASYMMETRIC sibling of
    setsim_prefix_join that Jaccard structurally cannot see: a 50-
    shingle doc swallowed whole by a 5000-shingle doc has containment
    1.0 but Jaccard ~0.01 (boilerplate pages engulfing short docs,
    quoted-in-full posts, training docs that contain an eval set —
    the decontamination shape).

    Same pigeonhole prefix (Chaudhuri et al. ICDE'06, rarest-first
    global order) on the PROBE side only: if a's prefix (its
    ``s - ceil(tau*s) + 1`` rarest shingles) is disjoint from B, then
    |A∩B| < tau·|A|. The INDEX side posts its full shingle set — an
    inverted index, the asymmetry that lets |B| be unbounded — but
    WITH each shingle's position in B's own rarity order, so the
    PPJoin positional bound applies (see setsim_prefix_join: at the
    pair's minimal shared shingle, overlap <= 1 + min(s_a - pos_a -
    1, s_b - pos_b - 1), which must reach ceil(tau·s_a); per-row
    application keeps every qualifying pair via its minimal row).
    Length filter is the one containment implies: |B| >= tau·|A|
    (since |A∩B| <= |B|). Verification shuffles candidate pairs on
    doc id against the persisted-once shingle frame; all arithmetic
    integer-milli so the pair set hash-compares against the
    brute-force oracle (completeness gate, like setsim)."""
    from pyspark.storagelevel import StorageLevel

    sh = (
        shingle_arrays(df, text_col, id_col, k)
        .withColumn("_s", F.size("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tok = sh.select(id_col, "_s", F.explode("sh").alias("_g"))
    dfreq = tok.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    # ordered pinned (r14): probe and index both derive from posed
    # under different aliases, so exchange reuse never fires and the
    # explode → doc-frequency join → collect_list chain (two shuffles)
    # ran once PER SIDE; one row per doc, bounded like sh
    ordered = (
        tok.join(dfreq, "_g")
        .groupBy(id_col, "_s")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_g"))).alias("_o"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    posed = ordered.select(
        F.col(id_col), F.col("_s"), F.posexplode(F.col("_o._g"))
    )
    p = (
        F.col("_s")
        - F.ceil(F.col("_s") * F.lit(tau_milli) / F.lit(1000.0)).cast("int")
        + F.lit(1)
    )
    probe = posed.filter(F.col("pos") < p).select(
        F.col(id_col).alias("id_a"), F.col("_s").alias("_sa"),
        F.col("pos").alias("_pa"), "col",
    )
    index = posed.select(
        F.col(id_col).alias("id_b"), F.col("_s").alias("_sb"),
        F.col("pos").alias("_pb"), "col",
    )
    positional = F.lit(1000) * (
        F.lit(1)
        + F.least(
            F.col("_sa") - F.col("_pa") - 1, F.col("_sb") - F.col("_pb") - 1
        )
    ) >= F.lit(tau_milli) * F.col("_sa")
    cand = (
        probe.join(index, "col")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.lit(1000) * F.col("_sb") >= F.lit(tau_milli) * F.col("_sa"))
            & positional
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # broadcast verify (r15, guide §3.1) — see setsim_prefix_join:
    # measured 3.6 s -> 0.47 s on this exact join at sf0.1
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("_ta"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("_tb"))
    return (
        cand.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "n_inter", F.size(F.array_intersect("_ta", "_tb")).cast("long")
        )
        .withColumn("n_a", F.size("_ta").cast("long"))
        .filter(
            F.lit(1000) * F.col("n_inter") >= F.lit(tau_milli) * F.col("n_a")
        )
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_a",
            F.expr("1000 * n_inter div n_a").alias("containment_milli"),
        )
    )


def setsim_incremental(
    batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau_milli: int = 700,
    k: int = 3,
) -> DataFrame:
    """Incremental EXACT set-similarity: every (batch doc, history
    doc) pair with shingle Jaccard >= tau — the continuous-ingestion
    twin of setsim_prefix_join (and the zero-false-negative upgrade
    of dedup_incremental_neardup's MinHash probe: a daily crawl
    gates against yesterday's corpus with a GUARANTEE, not a recall
    curve).

    The one design decision that makes it incremental: prefixes are
    taken under the FIXED HASH ORDER h60(shingle), not document
    frequency. Prefix filtering is pigeonhole-complete under ANY
    fixed total order of the shingle universe; rarity order merely
    prunes best. But rarity DRIFTS as the corpus grows — a stored
    rarity-prefix index silently loses completeness when yesterday's
    rare shingle becomes common. The hash order never moves, so
    history's prefix index is write-once: today's batch probes the
    same index tomorrow's will. (The full-corpus batch join keeps
    the adaptive rarity order; this one trades pruning power for a
    valid stored index — both documented, both gated.)

    Scale shape: history contributes ONLY its prefix index
    (~(1-tau) of its shingles) — the stored artifact; batch explodes
    its own prefixes; candidates equi-join on shingle with the
    length filter; verification joins the candidate pairs back to
    both shingle frames. Batch is small vs history: all batch-side
    frames broadcast-scale."""
    from pyspark.storagelevel import StorageLevel

    def prefixed(df: DataFrame) -> DataFrame:
        sh = (
            shingle_arrays(df, text_col, id_col, k)
            .withColumn("_s", F.size("sh"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # canonical order: sort shingles by (h60, shingle) — stable
        # forever, so stored prefixes stay complete as corpora grow
        ordered = sh.select(
            id_col,
            "_s",
            F.expr(
                "transform(array_sort(transform(sh, g ->"
                " struct(CAST(conv(substring(md5(g), 1, 15), 16, 10)"
                " AS BIGINT) AS h, g AS g))), p -> p.g)"
            ).alias("_o"),
        )
        p = (
            F.col("_s")
            - F.ceil(
                F.col("_s") * F.lit(tau_milli) / F.lit(1000.0)
            ).cast("int")
            + F.lit(1)
        )
        pre = ordered.select(
            F.col(id_col), F.col("_s"), F.posexplode("_o")
        ).filter(F.col("pos") < p)
        return sh, pre

    bsh, bpre = prefixed(batch)
    hsh, hpre = prefixed(history)
    a = bpre.select(
        F.col(id_col).alias("id_batch"), F.col("_s").alias("_sa"), "col"
    )
    b = hpre.select(
        F.col(id_col).alias("id_hist"), F.col("_s").alias("_sb"), "col"
    )
    cand = (
        a.join(b, "col")
        .filter(
            F.lit(1000) * F.least("_sa", "_sb")
            >= F.lit(tau_milli) * F.greatest("_sa", "_sb")
        )
        .select("id_batch", "id_hist")
        .distinct()
    )
    sa = bsh.select(F.col(id_col).alias("id_batch"), F.col("sh").alias("_ta"))
    sb = hsh.select(F.col(id_col).alias("id_hist"), F.col("sh").alias("_tb"))
    return (
        cand.join(sa, "id_batch")
        .join(sb, "id_hist")
        .withColumn(
            "n_inter", F.size(F.array_intersect("_ta", "_tb")).cast("long")
        )
        .withColumn(
            "n_union",
            (F.size("_ta") + F.size("_tb")).cast("long") - F.col("n_inter"),
        )
        .filter(
            F.lit(1000) * F.col("n_inter")
            >= F.lit(tau_milli) * F.col("n_union")
        )
        .select(
            "id_batch",
            "id_hist",
            "n_inter",
            "n_union",
            F.expr("1000 * n_inter div n_union").alias("jaccard_milli"),
        )
    )


def incremental_atomic_split(
    base: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> tuple:
    """CLUSTER-ATOMIC train/val/test split under CONTINUOUS INGESTION
    — the r11 flagship's honestly-stated gap, closed (its docstring:
    "group-aware splitting under ingestion additionally needs the
    cluster store"): a delta doc that near-duplicates an existing
    base cluster must INHERIT that cluster's split, or the naive
    per-doc hash split trains on a twin of a test doc the moment the
    next crawl lands (eval contamination by ingestion).

    Construction (every step pointwise in doc + bounded stores):

    1. base clusters = :func:`dup_clusters` over base near-dup pairs —
       at ingestion time this is the persisted CLUSTER STORE
       (doc_id -> gid = min cluster member), built once per epoch;
    2. delta edges = in-delta verified pairs (:func:`minhash_dedup`)
       plus the BRIDGE set — every verified (delta, history) pair from
       the band-store probe (:func:`near_dup_vs_history` with
       ``keep_all=True``: the min-match collapse would hide a doc's
       second bridge end, and a delta doc matching TWO base clusters
       is exactly the event that must MERGE them);
    3. min-label propagation over (delta edges + delta->gid bridge
       edges) — a graph bounded by |delta| + touched clusters, never
       |base| — gives the merged final gid; untouched base docs keep
       their store gid, members of an absorbed cluster follow the
       merged label (the honest cost of a bridge: n_base_reassigned
       makes it visible);
    4. split = hash(final gid): clusters move whole, so cross_pairs
       (verified pairs straddling splits) is 0 by construction — the
       split_leakage_free witness discipline under CDC.

    Correctness theorem (the apply == recompute gate): a hist doc and
    its gid are connected inside base pairs, so components of
    (base pairs + delta pairs + bridge pairs) equal components of the
    merge construction — the incremental labels are IDENTICAL to a
    from-scratch clustering of base UNION delta; the catalog row
    computes both branches and gates ``clusters_match`` in-row.

    Returns ``(asn, pairs)``: per-doc assignment (doc_id, is_base,
    gid0 pre-merge, fgid, split, naive_split) and the verified pair
    frame with a ``kind`` column ('base'/'delta'/'bridge')."""
    base_ids = base.select(id_col)
    delta_ids = delta.select(id_col)
    base_pairs = minhash_dedup(base, text_col, id_col, threshold).select(
        "id_a", "id_b", F.lit("base").alias("kind")
    )
    delta_pairs = minhash_dedup(delta, text_col, id_col, threshold).select(
        "id_a", "id_b", F.lit("delta").alias("kind")
    )
    bridge = near_dup_vs_history(
        delta, base, text_col, id_col, threshold, keep_all=True
    ).select(
        F.col(id_col).alias("id_a"),
        F.col("hist_id").alias("id_b"),
        F.lit("bridge").alias("kind"),
    )
    pairs = base_pairs.unionByName(delta_pairs).unionByName(bridge)

    base_cl = dup_clusters(base_pairs.select("id_a", "id_b"))
    store = base_ids.join(base_cl, id_col, "left").select(
        id_col, F.coalesce("cluster_id", F.col(id_col)).alias("gid0")
    )
    # merge graph: delta-delta edges + (delta -> matched cluster's gid)
    bridge_g = bridge.join(
        store.select(F.col(id_col).alias("id_b"), F.col("gid0").alias("_g")),
        "id_b",
    ).select("id_a", F.col("_g").alias("id_b"))
    merged = dup_clusters(
        delta_pairs.select("id_a", "id_b").unionByName(bridge_g)
    )
    d_asn = delta_ids.join(
        merged.withColumnRenamed("cluster_id", "_m"), id_col, "left"
    ).select(
        id_col,
        F.lit(False).alias("is_base"),
        F.col(id_col).alias("gid0"),
        F.coalesce("_m", F.col(id_col)).alias("fgid"),
    )
    b_asn = store.join(
        merged.select(
            F.col("doc_id").alias("gid0"), F.col("cluster_id").alias("_m")
        ),
        "gid0",
        "left",
    ).select(
        id_col,
        F.lit(True).alias("is_base"),
        "gid0",
        F.coalesce("_m", F.col("gid0")).alias("fgid"),
    )

    asn = (
        b_asn.unionByName(d_asn)
        .withColumn("split", split_tag(F.col("fgid"), "gsplit"))
        .withColumn("naive_split", split_tag(F.col(id_col), "gsplit"))
    )
    return asn, pairs


def cdc_chunk_hashes(
    df: DataFrame,
    weights: list[int],
    text_col: str = "t",
    id_col: str = "doc_id",
    source_col: str = "source",
    twin_prefix: str | None = None,
    mod: int = 64,
) -> DataFrame:
    """Content-defined chunk HASHES for every row — the CDC rolling
    hash (window w = len(weights) chars, boundary where the weighted
    window sum ≡ 0 mod ``mod``) evaluated in ONE vectorized pass per
    partition (guide §4.2: per-char array arithmetic expressed as
    Catalyst higher-order functions runs INTERPRETED — ArrayTransform/
    ArrayFilter are CodegenFallback — with boxed per-element lambda
    frames; measured ~3.5 s per chunking pass at sf0.1 on the
    dedup_cdc_chunks row. A NumPy sliding-window dot product over the
    Arrow batch computes bit-identical cuts in well under a second).

    Emits (id, source, variant, idx0, h): variant 0 = the text as-is,
    variant 1 = ``twin_prefix + text`` (the re-sync witness twin —
    chunked INDEPENDENTLY, in the same pass, so the property stays
    gated, never assumed), idx0 = 0-based chunk index, h = lowercase
    hex md5 of the chunk substring (hashlib == Spark ``md5`` on this
    ascii-only normalized text). Only the ≤512-char normalized text
    crosses the Arrow boundary and only 48-byte hash rows come back —
    chunk payloads never leave the worker (guide §2.3/§8).

    Parity contract with the expression form (kept in the catalog
    oracle): cuts = {c ∈ [w, L-1] (1-based) |
    Σ_j code(c-w+1+j)·weights[j] ≡ 0 mod ``mod``}; starts/ends and
    substring slicing identical; text must be single-byte (the
    [a-z0-9 ] normalization upstream guarantees it)."""
    import pandas as pd

    w_tuple = tuple(int(x) for x in weights)
    variants = (("", 0),) if twin_prefix is None else (("", 0), (twin_prefix, 1))
    out_schema = (
        f"{id_col} long, {source_col} string, variant int, "
        "idx0 int, h string"
    )

    def fn(batches):
        import hashlib

        import numpy as np

        wts = np.asarray(w_tuple, dtype=np.int64)
        wlen = wts.shape[0]
        for pdf in batches:
            ids, srcs, vars_, idxs, hs = [], [], [], [], []
            for did, src, t in zip(
                pdf[id_col], pdf[source_col], pdf[text_col]
            ):
                for prefix, var in variants:
                    s = prefix + t
                    raw = s.encode("ascii")
                    codes = np.frombuffer(raw, dtype=np.uint8).astype(
                        np.int64
                    )
                    L = codes.shape[0]
                    if L >= wlen + 1:
                        sums = (
                            np.lib.stride_tricks.sliding_window_view(
                                codes, wlen
                            )
                            @ wts
                        )
                        # cut after 1-based pos c ∈ [wlen, L-1]; the
                        # window [c-wlen+1 .. c] starts at 0-based
                        # i = c - wlen, so only i ∈ [0, L-wlen-1]
                        cuts = (
                            np.nonzero(sums[: L - wlen] % mod == 0)[0]
                            + wlen
                        )
                    else:
                        cuts = np.empty(0, dtype=np.int64)
                    starts = [1] + [int(c) + 1 for c in cuts]
                    ends = [int(c) for c in cuts] + [L]
                    for k, (a, e) in enumerate(zip(starts, ends)):
                        ids.append(did)
                        srcs.append(src)
                        vars_.append(var)
                        idxs.append(k)
                        hs.append(
                            hashlib.md5(raw[a - 1 : e]).hexdigest()
                        )
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    source_col: pd.Series(srcs, dtype="object"),
                    "variant": pd.Series(vars_, dtype="int32"),
                    "idx0": pd.Series(idxs, dtype="int32"),
                    "h": pd.Series(hs, dtype="object"),
                }
            )

    return df.select(id_col, source_col, text_col).mapInPandas(
        fn, out_schema
    )
