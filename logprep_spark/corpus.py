"""Config-driven corpus pipeline: the LLM-training-data operators
(SURVEY §2.4) composed from a YAML/JSON spec the way the log half
composes processors from a pipeline config — one declarative file
describes the whole cleanup, and the engine assembles ONE lazy plan.

    pipeline:
      - op: gopher_filter          # narrow rule gate
        min_stop_hits: 1
      - op: line_dedup             # corpus-level boilerplate removal
        min_occurrences: 2
      - op: exact_dedup            # keep-first on normalized text
      - op: pii_redact             # typed redaction, narrow
      - op: quality_score          # adds a quality column
      - op: filter                 # arbitrary Catalyst SQL predicate
        where: "quality >= 0.5"

Each step maps to the §2.4 function of the same name; steps compose
left-to-right into a single DataFrame plan (narrow steps fuse into
one codegen stage; only the dedups introduce their documented
shuffles). Unknown ops or parameters raise ``ConfigError`` at BUILD
time, not mid-job — the factory.py validation discipline.

The steps hold no stage logic of their own that the catalog
flagships or the streaming corpus path also need: each such decision
lives in one helper that all of them call —

- ``text.words``: the lowercased ``[a-z]+`` word split;
- ``dedup.split_tag``: the salted-hash train/val/test tag
  (``leakage_split``, ``hash_split``);
- ``text.bpe_encode_vocab`` / ``text.bpe_doc_tokens``: the BPE
  vocabulary encode and per-doc token count (``bpe_token_count``,
  ``bpe_train_token_count``);
- ``sketch.bloom_window_gate``: the k-gram Bloom decontamination gate
  (``decontaminate``); its streaming path probes the same
  ``text.token_windows`` and ``sketch.bloom_positions``;
- ``near_dup_clusters``: the (id, cluster_id) near-dup cluster frame
  (``leakage_split``, ``cluster_dedup``). One ``transform`` call
  builds it at most once per (text_col, id_col, threshold_milli), as
  the catalog's ``pipeline_pretrain_v3`` does, and drops it after any
  step that may remove docs or rewrite text.
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logprep_spark.factory import ConfigError, _read_yaml_or_json
from logprep_spark.functions import dedup as dd
from logprep_spark.functions import text as tx


def _step_gopher_filter(
    df: DataFrame, text_col: str, min_stop_hits: int = 2
) -> DataFrame:
    return tx.gopher_filter(df, text_col=text_col, min_stop_hits=min_stop_hits)


def _step_line_dedup(
    df: DataFrame,
    text_col: str,
    min_occurrences: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    out = dd.line_dedup(
        df, text_col=text_col, id_col=id_col, min_occurrences=min_occurrences
    )
    # line_dedup returns (id, text_col, n_lines, n_removed); re-attach the
    # surviving docs' other columns so downstream steps see them
    others = df.drop(text_col)
    return out.drop("n_lines", "n_removed").join(others, id_col)


def _step_exact_dedup(df: DataFrame, text_col: str, id_col: str = "doc_id") -> DataFrame:
    return dd.exact_dedup(df, text_col=text_col, id_col=id_col)


def _step_near_dedup(
    df: DataFrame,
    text_col: str,
    threshold_milli: int = 700,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash→LSH→verify near-duplicate REMOVAL as a selection step
    (exact_dedup's fuzzy sibling, the step a pre-training cleanup
    actually runs): drop every doc that is the higher-id member of a
    verified pair — the greedy keep-lowest-id rule (transitive
    cluster-exact removal is dedup_clusters' job; greedy is the
    single-extra-shuffle answer). Batch-only like exact_dedup."""
    pairs = dd.minhash_dedup(
        df.select(id_col, text_col), text_col, id_col, threshold_milli / 1000.0
    )
    kill = pairs.select(F.greatest("id_a", "id_b").alias(id_col)).distinct()
    return df.join(kill, id_col, "left_anti")


def _step_pii_redact(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn(text_col, tx.pii_redact(F.col(text_col)))


def _step_quality_score(df: DataFrame, text_col: str, out_col: str = "quality") -> DataFrame:
    return df.withColumn(out_col, tx.quality_score(F.col(text_col)))


def _step_lang_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    return df.withColumn(out_col, tx.lang_id(F.col(text_col)))


def _step_token_count(df: DataFrame, text_col: str, out_col: str = "n_tokens") -> DataFrame:
    return df.withColumn(out_col, tx.token_count(F.col(text_col)))


def _with_bpe_token_count(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    rounds: int,
    key_col: str,
    out_col: str,
) -> DataFrame:
    """Attach each doc's BPE token count under ``merges``
    (tx.bpe_doc_tokens); docs with no word reach 0, not null."""
    per_doc = tx.bpe_doc_tokens(
        df, merges, rounds, text_col, key_col, out_col, key_as="_k"
    )
    return (
        df.join(per_doc, df[key_col] == per_doc["_k"], "left")
        .drop("_k")
        .withColumn(out_col, F.coalesce(out_col, F.lit(0).cast("long")))
    )


def _step_bpe_token_count(
    df: DataFrame,
    text_col: str,
    key_col: str = "doc_id",
    rounds: int = 2,
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """Per-doc BPE sequence-length cost under the static BPE_MERGES
    table — the budget number packing and pricing actually need
    (token_count's whitespace/regex proxies under- or over-state it
    for merge-heavy text): each doc's words join the GLOBAL encoded
    vocabulary (the encode fold runs once per DISTINCT word — Heaps'
    law — never per occurrence), summed back per ``key_col``. Two
    bounded shuffles; the fold chain itself is zero-shuffle narrow."""
    return _with_bpe_token_count(
        df, text_col, tx.BPE_MERGES, rounds, key_col, out_col
    )


def _step_unicode_clean(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn(text_col, tx.unicode_nfc(tx.strip_invisible(F.col(text_col))))


def _step_html_extract(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn(text_col, tx.html_to_text(F.col(text_col)))


def _step_quality_model(
    df: DataFrame,
    text_col: str,
    out_col: str = "prob_milli",
    id_col: str = "doc_id",
) -> DataFrame:
    scored = tx.quality_model_score(
        df.select(id_col, text_col), text_col=text_col, id_col=id_col
    ).select(id_col, F.col("prob_milli").alias(out_col))
    return df.join(scored, id_col)


def _step_filter(df: DataFrame, text_col: str, where: str) -> DataFrame:
    return df.filter(F.expr(where))


def _step_c4_filter(
    df: DataFrame,
    text_col: str,
    keep_only: bool = True,
    id_col: str = "doc_id",
) -> DataFrame:
    """C4 cleanup as a pipeline step: replaces the text column with the
    retained lines; ``keep_only`` drops failing docs (default — the
    filter's purpose in a cleanup chain), else the flags stay.
    ``id_col`` names the document key (like near_dedup — a corpus
    whose id column isn't ``doc_id`` must be able to run the step)."""
    out = tx.c4_filter(df, text_col=text_col, id_col=id_col)
    others = df.drop(text_col)
    merged = (
        out.withColumnRenamed("kept_text", text_col)
        .join(others, id_col)
    )
    if keep_only:
        merged = merged.filter(F.col("c4_pass"))
    return merged.drop(
        "n_lines", "n_lines_kept", "n_sentences", "no_lorem", "no_brace", "c4_pass"
    ) if keep_only else merged


def _step_domain_sample(
    df: DataFrame,
    text_col: str,
    budget_num: int = 2,
    budget_den: int = 5,
    group_col: str = "source",
    salt: str = "ds",
) -> DataFrame:
    """Per-domain temperature token budgeting
    (sampling.domain_token_sample_docs) as a SELECTION step: keeps the
    hash-chosen docs within each domain's budget. Options are explicit
    so build-time validation can reject typos."""
    from logprep_spark.functions import sampling as smp

    return smp.domain_token_sample_docs(
        df,
        budget_num=budget_num,
        budget_den=budget_den,
        group_col=group_col,
        text_col=text_col,
        salt=salt,
    )


def _step_weighted_sample(
    df: DataFrame,
    text_col: str,
    weight_col: str = "n_chars",
    n: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """A-Res weighted subsampling (sampling.weighted_sample) as a
    SELECTION step: keep the n docs drawn without replacement with
    probability proportional to ``weight_col`` — typically run AFTER
    quality_score/quality_model so the weight reflects quality.
    Deterministic (salted id hash, not a seed): the same corpus and
    config reproduce the same sample in any engine or partitioning."""
    from logprep_spark.functions import sampling as smp

    return smp.weighted_sample(df, weight_col, n, id_col=id_col)


def _step_bloom_suppress(
    df: DataFrame,
    text_col: str,
    path: str,
    key_col: str = "doc_id",
    m: int = 512,
    j: int = 3,
) -> DataFrame:
    """Suppression-list gate (functions/sketch.py bloom_suppress):
    drop every doc whose ``key_col`` hits the STORED Bloom filter at
    ``path`` (a ``bloom_bits`` position parquet — opt-out ids,
    already-ingested fingerprints, contamination keys). The filter is
    <= m rows and broadcasts; the corpus is never shuffled, and
    Bloom's no-false-negative guarantee means a listed key NEVER
    leaks through — the trade is fp-collateral bounded by the
    filter's sizing. The build corpus itself is never re-read: the
    position frame IS the artifact, which is the point at 100 TB."""
    from logprep_spark.functions import sketch as sk

    bits = df.sparkSession.read.parquet(path).select("pos")
    return sk.bloom_suppress(df, bits, key_col, m=m, j=j)


def near_dup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_milli: int,
    memo: dict | None = None,
) -> DataFrame:
    """(``id_col``, cluster_id) verified near-dup clusters: MinHash->
    LSH->verify pairs (dd.minhash_dedup), connected components
    (dd.dup_clusters — every member labeled with the cluster's min
    id). Only docs in some verified pair get a row. The component
    loop runs eager jobs and leaves the labels checkpointed, so a
    frame from ``memo`` (keyed on text_col, id_col, threshold_milli)
    costs its next consumer no job at all — the caller owns the memo
    and must drop it once the document set or the text can change."""
    key = (text_col, id_col, threshold_milli)
    if memo is not None and key in memo:
        return memo[key]
    pairs = dd.minhash_dedup(
        df.select(id_col, text_col), text_col, id_col, threshold_milli / 1000.0
    )
    cl = dd.dup_clusters(pairs).withColumnRenamed("doc_id", id_col)
    if memo is not None:
        memo[key] = cl
    return cl


def _step_cluster_dedup(
    df: DataFrame,
    text_col: str,
    threshold_milli: int = 700,
    id_col: str = "doc_id",
    *,
    memo: dict | None = None,
) -> DataFrame:
    """Cluster-EXACT near-dup removal (near_dedup's transitive
    sibling, the pipeline_pretrain_v3 stage): keep exactly the min-id
    representative of every near_dup_clusters cluster. Greedy
    near_dedup can keep two members of one chain-shaped cluster; this
    cannot. After a leakage_split at the same threshold the clusters
    come from the pipeline's memo and the step is a lazy anti-join.
    Batch-only."""
    cl = near_dup_clusters(df, text_col, id_col, threshold_milli, memo)
    kill = cl.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(kill, id_col, "left_anti")


def _step_decontaminate(
    df: DataFrame,
    text_col: str,
    path: str,
    k: int = 13,
    m: int = 524288,
    j: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination against a STORED Bloom filter of the
    eval set's k-gram window hashes (``path`` = a bloom_bits position
    parquet built from dd.window_hashes of the benchmark): drop every
    doc with at least one window hitting all j positions. Bloom has
    no false negatives, so no exact-overlap doc ever leaks into
    training; the collateral is fp-bounded by the filter sizing. The
    filter broadcasts; the corpus is never shuffled and the benchmark
    text is never re-read (the position frame IS the artifact). On a
    STREAMING frame the same gate runs as a pure narrow expression
    (the anti-join shape is illegal there): the position frame folds
    into a bitmap literal and an exists() lambda probes it in-row —
    no join, no state, append-safe; batch/stream parity is
    pytest-gated."""
    from logprep_spark.functions import sketch as sk

    bits = df.sparkSession.read.parquet(path).select("pos")
    if not df.isStreaming:
        return sk.bloom_window_gate(df, bits, m, j, k, text_col, id_col)
    # STREAMING path: the anti-join shape above is illegal on a
    # stream (left-anti with a stream-derived right side), so the
    # position frame folds into a BITMAP LITERAL instead — a bounded
    # driver fetch (<= m rows; the filter IS a model, the centroid
    # precedent) — and the gate becomes a PURE NARROW expression:
    # per row, the k-token windows stay inside an array column and
    # an exists() lambda probes all j bit positions against the
    # literal. No join, no shuffle, no state — append-mode-safe,
    # and incidentally the shape a 100 TB batch gate would also
    # prefer once the filter fits a literal (m/32 longs of plan).
    words32 = [0] * ((m + 31) // 32)
    for r in bits.collect():
        words32[r["pos"] // 32] |= 1 << (r["pos"] % 32)
    bm = F.array(*[F.lit(w).cast("long") for w in words32])
    pow2 = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])
    wins = tx.token_windows(tx.tokens(F.col(text_col)), k)

    def bit_set(pos):
        word = F.element_at(
            bm, (F.floor(pos / 32) + 1).cast("int")
        )
        mask = F.element_at(pow2, F.pmod(pos, 32).cast("int") + 1)
        return word.bitwiseAND(mask) != 0

    import functools
    import operator

    hit = F.exists(
        wins,
        lambda w: functools.reduce(
            operator.and_,
            [bit_set(pos) for pos in sk.bloom_positions(dd.h60(w), m, j)],
        ),
    )
    return df.filter(~hit)


def _step_leakage_split(
    df: DataFrame,
    text_col: str,
    threshold_milli: int = 700,
    id_col: str = "doc_id",
    out_col: str = "split",
    *,
    memo: dict | None = None,
) -> DataFrame:
    """GROUP-AWARE train/val/test tag (the split_leakage_free /
    pipeline_pretrain_v3 assignment): verified near-dup clusters are
    the atomic unit — every member hashes on the CLUSTER id
    (coalesce(cluster_id, doc_id)), so a cluster lands in one split
    whole and no verified pair can straddle train/test. The tag is a
    narrow md5 map once the cluster frame exists. Every doc and its
    text pass through, so a later cluster_dedup reuses the clusters
    (see :func:`_keeps_clusters`)."""
    cl = near_dup_clusters(df, text_col, id_col, threshold_milli, memo)
    return (
        df.join(cl.withColumnRenamed("cluster_id", "_cid"), id_col, "left")
        .withColumn(out_col, dd.split_tag(F.coalesce("_cid", id_col)))
        .drop("_cid")
    )


def _keeps_clusters(op: str, kw: dict[str, Any], key: tuple) -> bool:
    """Whether the cluster frame memoized under ``key`` (text_col,
    id_col, threshold_milli) still describes the frame after step
    ``op``. Only leakage_split is known to keep every doc and its
    text, and only while its tag overwrites neither the text nor the
    id column; any other step may drop rows or rewrite text."""
    return op == "leakage_split" and kw.get("out_col", "split") not in key[:2]


def _step_bpe_train_token_count(
    df: DataFrame,
    text_col: str,
    n_merges: int = 6,
    rounds: int = 2,
    train_where: str | None = None,
    key_col: str = "doc_id",
    out_col: str = "n_bpe_tokens",
) -> DataFrame:
    """bpe_token_count with a table LEARNED in-pipeline instead of the
    static BPE_MERGES: train n_merges BPE rounds on the docs matching
    ``train_where`` (default: the whole frame — pass "split = 'train'"
    after a leakage_split step for the pretrain-v3 discipline of
    fitting the tokenizer on the train split only), then encode EVERY
    doc via the global-vocab encode join. The learned table is a
    <= n_merges-row model fetch (the Lloyd precedent); the folds are
    plan literals, zero shuffle."""
    train = df.filter(F.expr(train_where)) if train_where else df
    learned = [
        (r["lhs"], r["rhs"])
        for r in tx.bpe_train(train, text_col=text_col, n_merges=n_merges).collect()
    ]
    return _with_bpe_token_count(df, text_col, learned, rounds, key_col, out_col)


def _step_exact_dedup_vs_store(
    df: DataFrame,
    text_col: str,
    path: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingestion exact dedup against the PERSISTED
    fingerprint store (``path`` = a parquet with one ``fp`` md5
    column — yesterday's run's artifact): a batch doc survives iff
    its fingerprint is absent from the store and first (lowest id)
    within the batch (functions/dedup.py incremental_dedup_vs_store,
    the pipeline_pretrain_incremental stage). History text is never
    re-read; at 100 TB the store is a bucketed hash table and the
    anti-join co-locates on it."""
    store = df.sparkSession.read.parquet(path).select("fp")
    return dd.incremental_dedup_vs_store(df, store, text_col, id_col)


def _step_neardup_vs_store(
    df: DataFrame,
    text_col: str,
    bands_path: str,
    shingles_path: str,
    threshold_milli: int = 700,
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingestion NEAR-dup suppression against the
    PERSISTED band store (functions/dedup.py near_dup_vs_band_store,
    the pipeline_pretrain_incremental stage): ``bands_path`` holds
    (hist_id, band_id, band_key) for candidate generation,
    ``shingles_path`` (hist_id, sh) for Jaccard verification — the
    two artifacts a production pipeline keeps so history text is
    never re-read. Drops every batch doc with a verified historical
    match >= threshold."""
    sess = df.sparkSession
    bands = sess.read.parquet(bands_path)
    sh = sess.read.parquet(shingles_path)
    kill = dd.near_dup_vs_band_store(
        df.select(id_col, text_col),
        bands,
        sh,
        text_col,
        id_col,
        threshold_milli / 1000.0,
    ).select(id_col)
    return df.join(kill, id_col, "left_anti")


def _step_hash_split(
    df: DataFrame,
    text_col: str,
    salt: str = "split",
    id_col: str = "doc_id",
    out_col: str = "split",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """POINTWISE train/val/test tag — leakage_split's incremental
    sibling and the tag the pipeline_pretrain_incremental apply
    branch ships (its docstring: the group-aware closure is NOT
    pointwise, so the incremental twin tags per doc): split =
    salted-hash(id) buckets, deterministic, engine-portable,
    assignable the moment a doc arrives with no corpus-wide state.
    Run it AFTER the store-probing dedups: a near-dup of history
    never reaches the tag (killed), so the pointwise tag cannot
    straddle a known cluster. ``train_pct``/``val_pct`` are checked
    at build time (:func:`_check_hash_split`)."""
    return df.withColumn(
        out_col, dd.split_tag(F.col(id_col), salt, train_pct, val_pct)
    )


def _check_hash_split(train_pct: int = 80, val_pct: int = 10, **_) -> str | None:
    """The build-time check of hash_split's percentages: an error
    message, or None when they describe three (possibly empty) splits."""
    for name, v in {"train_pct": train_pct, "val_pct": val_pct}.items():
        if isinstance(v, bool) or not isinstance(v, (int, float)) or v < 0:
            return f"{name} must be a non-negative number, got {v!r}"
    if train_pct + val_pct > 100:
        return f"train_pct + val_pct must be <= 100, got {train_pct + val_pct}"
    return None


STEPS: dict[str, Callable[..., DataFrame]] = {
    "exact_dedup_vs_store": _step_exact_dedup_vs_store,
    "neardup_vs_store": _step_neardup_vs_store,
    "hash_split": _step_hash_split,
    "bloom_suppress": _step_bloom_suppress,
    "cluster_dedup": _step_cluster_dedup,
    "decontaminate": _step_decontaminate,
    "leakage_split": _step_leakage_split,
    "bpe_train_token_count": _step_bpe_train_token_count,
    "gopher_filter": _step_gopher_filter,
    "line_dedup": _step_line_dedup,
    "exact_dedup": _step_exact_dedup,
    "near_dedup": _step_near_dedup,
    "pii_redact": _step_pii_redact,
    "quality_score": _step_quality_score,
    "lang_id": _step_lang_id,
    "token_count": _step_token_count,
    "bpe_token_count": _step_bpe_token_count,
    "unicode_clean": _step_unicode_clean,
    "html_extract": _step_html_extract,
    "quality_model": _step_quality_model,
    "filter": _step_filter,
    "c4_filter": _step_c4_filter,
    "domain_sample": _step_domain_sample,
    "weighted_sample": _step_weighted_sample,
}


class CorpusPipeline:
    """Validated, composable corpus-cleanup pipeline. A step's
    keyword-only parameters (``memo``) are supplied by the pipeline,
    never by the config."""

    def __init__(self, steps: list[dict[str, Any]], text_col: str = "text"):
        import inspect

        self.text_col = text_col
        # (op, step function, config options, takes the cluster memo)
        self._steps: list[tuple[str, Callable[..., DataFrame], dict[str, Any], bool]] = []
        for i, spec in enumerate(steps):
            if not isinstance(spec, dict) or "op" not in spec:
                raise ConfigError(f"corpus step {i}: every step needs an 'op'")
            kw = {k: v for k, v in spec.items() if k != "op"}
            op = spec["op"]
            fn = STEPS.get(op)
            if fn is None:
                raise ConfigError(
                    f"corpus step {i}: unknown op {op!r} (known: {sorted(STEPS)})"
                )
            sig = inspect.signature(fn)
            for k in kw:
                p = sig.parameters.get(k)
                if p is None or p.kind is inspect.Parameter.KEYWORD_ONLY:
                    raise ConfigError(f"corpus step {i} ({op}): unknown option {k!r}")
            required = [
                p.name
                for p in sig.parameters.values()
                if p.default is inspect.Parameter.empty
                and p.name not in ("df", "text_col")
                and p.kind is not inspect.Parameter.VAR_KEYWORD
            ]
            missing = [r for r in required if r not in kw]
            if missing:
                raise ConfigError(f"corpus step {i} ({op}): missing option(s) {missing}")
            err = _check_hash_split(**kw) if op == "hash_split" else None
            if err:
                raise ConfigError(f"corpus step {i} ({op}): {err}")
            self._steps.append((op, fn, kw, "memo" in sig.parameters))

    @classmethod
    def from_file(cls, path: str) -> "CorpusPipeline":
        docs = _read_yaml_or_json(path)
        spec = docs[0] if docs else {}
        steps = spec.get("pipeline")
        if not isinstance(steps, list) or not steps:
            raise ConfigError("corpus config needs a non-empty 'pipeline' list")
        return cls(steps, text_col=spec.get("text_col", "text"))

    def _apply(
        self,
        df: DataFrame,
        after: Callable[[DataFrame, str, float], DataFrame] | None = None,
    ) -> DataFrame:
        """Compose every step onto ``df``; ``after(frame, label,
        build_s)`` may wrap each step's output before the next step
        sees it. One near-dup cluster memo serves the whole call
        (near_dup_clusters), so leakage_split and a later
        cluster_dedup at the same threshold build the clusters once;
        entries a step may have invalidated are dropped after it."""
        memo: dict[tuple, DataFrame] = {}
        for i, (op, fn, kw, takes_memo) in enumerate(self._steps):
            t0 = time.perf_counter()
            extra = {"memo": memo} if takes_memo else {}
            df = fn(df, text_col=self.text_col, **kw, **extra)
            built = time.perf_counter() - t0
            for key in [k for k in memo if not _keeps_clusters(op, kw, k)]:
                del memo[key]
            if after is not None:
                df = after(df, f"{i}:{op}", built)
        return df

    def transform(self, df: DataFrame) -> DataFrame:
        return self._apply(df)

    def transform_observed(
        self, df: DataFrame, build_s: dict[str, float] | None = None
    ):
        """``transform`` plus per-step retention counters at ZERO extra
        scans: an ``Observation`` (input) plus one after every step all
        ride the SAME plan, so the single terminal action (the write)
        fills every counter — per-step retention without the N-counts
        = N-jobs trap. Returns ``(df, observations)`` where
        ``observations`` is an ordered {label: Observation}; read
        ``obs.get['n_docs']`` AFTER an action has run. When given,
        ``build_s`` receives each step's build wall seconds under the
        same labels — the time its eager jobs (cluster loops, model
        fetches) ran."""
        from pyspark.sql import Observation

        observations: dict[str, Any] = {}

        def attach(frame: DataFrame, label: str, built: float | None = None) -> DataFrame:
            if build_s is not None and built is not None:
                build_s[label] = built
            obs = Observation()
            observations[label] = obs
            return frame.observe(obs, F.count(F.lit(1)).alias("n_docs"))

        return self._apply(attach(df, "input"), attach), observations

    @property
    def step_names(self) -> list[str]:
        return [op for op, *_ in self._steps]
