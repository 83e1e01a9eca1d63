"""Headline benchmark (SURVEY §6).

Runs the flagship catalog queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries", "sf"}.

Each query is executed to completion (noop-sink consume — no
driver-side collect of big results); per query the reported time is
the MEDIAN of three timed iterations (r4; was min-of-2), and the
full {min, med, max} spread of those same three runs is published as
``queries_spread`` (r8) so single-query swings are adjudicable from
the JSON alone. r9: the spread (and the sf1 spot detail) moved OFF
the final stdout line — the r8 headline line grew past the driver's
tail capture and archived as ``parsed: null``. The FINAL line is now
a compact headline (value, queries medians, comparable_*, calib_*,
probe_*, sf, sf1_total); the full artifact including
``queries_spread`` and ``sf1_spot`` is printed as its OWN earlier
stdout line AND written to the committed side file
``BENCH_FULL.json``, so every spread stays recoverable. Rationale:
single-shot timings carry first-touch noise the query plan doesn't
own (page cache, residual JIT), and min-of-2 can't absorb a run where
BOTH iterations land on a contended machine — r3's official numbers
showed a 3.4x spread on dedup_minhash_lsh purely from driver-box
contention. Median-of-3 plus an explicit machine-calibration probe
(below) makes contended runs detectable and normalizable.

Calibration probe: before the timed queries, a FIXED pure-CPU Spark
job (sum over a 50M range — no IO, no shuffle payload, identical
every round) is timed the same way and emitted as ``calib_s``. Query
time is dominated by the same executor-thread pool, so a round whose
calib_s is k-times another round's can have its query times divided
by ~k for cross-round comparison. SURVEY §6 records the methodology.

Before the timed region every headline query runs once at sf0.001:
JVM JIT + whole-stage-codegen compilation of each query shape is a
fixed per-process cost (measured ~2s on tpch_q1 alone) that a
long-lived cluster amortizes to zero, so it is warmed outside the
measurement, standard JMH-style. The timed runs still do all IO and
compute at the target SF.

Probe gate (r7): the r6 official JSON was taken on a box whose CPU
probe read 25% over the same code's idle measurement, and individual
queries diverged up to 2.4x from idle re-runs — numbers that grade
the machine, not the plans. The bench now brackets every headline
attempt with BOTH probes (before and after), compares the worst
probe against a committed idle reference (``CALIB_REF``, with the
band ``PROBE_BAND``), and re-runs the whole headline (up to
``SPARK_GRAFT_BENCH_ATTEMPTS``, default 3) while the probes are out
of band — transient contention usually passes. If every attempt is
contended the BEST attempt (lowest probe ratio) is emitted rather
than refusing (the driver archives exactly one JSON per round), with
``probe_verdict: "out_of_band"`` and the measured ratio so the
reader normalizes or discards instead of mistaking load for a plan
regression. The gate only binds at the official sf0.1 config; other
SFs emit ``probe_verdict: "ungated_sf"`` (the scan probe's cost is
SF-dependent).

sf1 spot-run (r5): after the headline, the five heaviest text/dedup/
ANN queries run once more at a 10x scale point so the "scales
linearly" plan claims are a measured curve, not an assertion. The
driver ships no sf1 parquet, so the 10x inputs are DERIVED from sf0.1
(documents + embeddings only — the tables these five queries read)
and cached at .benchdata/sf1: ten replicas, each with shifted ids, a
replica-specific alphabet rotation on text (replicas are NOT
near-duplicates of each other — workload characteristics like
cluster-size and bucket-occupancy distributions are preserved rather
than multiplied), and a cyclic rotation on embedding vectors (norm
preserved). Emitted as ``sf1_spot`` in the full artifact with its
own per-query times (``sf1_total`` on the headline line);
``SPARK_GRAFT_SF1_SPOT=0`` disables. r9: spot values are min-of-N
(the r3 headline lesson applied to the spot) — the r8 single-shot
spot read uniformly 1.2-1.5x slower on an in-band box and faked the
exact super-linearity signal the spot exists to catch; one clean run
bounds the plan's cost, and super-linearity (the signal) still
dwarfs what a min can absorb. r14 (r13 verdict ask #2): N raised
2 → 3 with the full min/med/max spread recorded per spot query
(``sf1_spot.queries_spread``) — the r13 sf1 regressions decomposed
to nothing in the diffed code, and without a spread the contention
hypothesis stayed an adjudication instead of a measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "filter_lucene_bool",
    "pipeline_compose",
    "sessionize_events",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
    "text_quality",
    "pipeline_training_data",
    # r4 additions — the 12-query prefix above stays the
    # round-over-round comparable subtotal (SURVEY §6)
    "text_tfidf",
    "dedup_substring_spans",
    "text_repetition",
    # r5 additions — heaviest of the new ops (two full-corpus n-gram
    # model builds + the iterative graph workload); first-15 prefix
    # comparable to r4's totals
    "text_bigram_lm",
    "text_dsir",
    "graph_pagerank",
    "pipeline_training_data_v2",
    # r6 additions — the iterative embedding model build and the
    # corpus-wide budgeting window; first-19 prefix comparable to r5
    "embed_top_component",
    "corpus_domain_sampling",
    # late-r6 heavy op: minhash verify + positional windows + diagonal
    # islands (the LCS forensics pass)
    "dedup_pair_lcs",
    # r8 additions — the theta-sketch build over events (prefiltered
    # KMV + broadcast set algebra) and the PQ train+encode pipeline
    # (stacked one-job Lloyd rounds + zero-shuffle literal-codebook
    # encode); first-22 prefix comparable to r6/r7 totals
    "sketch_theta_overlap",
    "embed_pq_codes",
    # late-r8 additions — the basket-pair graph build + triangle
    # census (heaviest new op: 1.2M-pair explode feeding the
    # degree-ordered wedge join) and the corpus co-occurrence
    # TextRank (weighted-PageRank rounds over a vocab-bounded
    # graph); first-24 prefix comparable to the r8 totals
    "graph_triangles",
    "text_textrank_keywords",
    # late-r8 additions — the two exact prefix-filter joins (rarest-
    # shingle candidate generation: symmetric Jaccard + asymmetric
    # containment vs the full inverted index) at positions 27-28:
    # the first-26 prefix (through textrank) is the r8-comparable
    # subtotal, first-28 adds these two
    "dedup_setsim_prefix",
    "dedup_containment_join",
    # late-r8 wave 2 — the two fixed-round iterative graph ops
    # (per-round lineage cuts: localCheckpoint every round) at 29-30;
    # the 28/30 prefixes become the r9-comparable subtotals
    "graph_kcore",
    "graph_lpa_communities",
    # r9 additions — the level-synchronous BFS (frontier joins +
    # per-round lineage cuts), the PNG-codec-on-the-gated-path
    # mapInPandas image fingerprint (the one Arrow-batched Python
    # stage in the headline, deliberately: its throughput IS the
    # multimodal story), and the group-aware split (full dedup
    # pipeline + cluster-atomic assignment + double witness join) at
    # 31-33; the first-30 prefix (through lpa) is the r9-comparable
    # subtotal, first-33 becomes r10's
    "graph_bfs_hops",
    "multimodal_image_dhash",
    "split_leakage_free",
    # r10 additions — the third flagship (gate -> cluster dedup ->
    # Bloom decontamination -> group-aware split -> BPE train on the
    # train split -> per-split token budget, ONE composed plan) and
    # the Newman-modularity readout over the shared LPA chain at
    # 34-35; the first-33 prefix (through split_leakage_free) is the
    # r10-comparable subtotal, first-35 becomes r11's
    "pipeline_pretrain_v3",
    "graph_lpa_modularity",
    # late-r10 additions — the heaviest of the fourth wave at 36-38:
    # content-defined chunking (per-row 16-char rolling-hash window
    # over 2x the corpus — original + grafted-prefix twin — plus the
    # chunk-hash dedup agg and the shift-witness join), the binned
    # interval-overlap join (bin explode on both sides + the
    # (custkey, bin) equi-join), and common-neighbor link prediction
    # (the wedge self-join over the co-purchase graph). The first-35
    # prefix (through graph_lpa_modularity) is the r10-comparable
    # subtotal, first-38 becomes the next round's.
    "dedup_cdc_chunks",
    "join_interval_overlap",
    "graph_link_prediction",
    # r11 addition at 39: the incremental flagship — base pass +
    # store-probing delta pass + full recompute witness branch in one
    # plan (deliberately the heaviest shape: it runs the minhash
    # verify three times by design — base, delta, recompute). The
    # first-38 prefix (through graph_link_prediction) is the
    # r10-comparable subtotal, first-39 becomes the next round's.
    "pipeline_pretrain_incremental",
    # r14 addition at 40: the many-rules dispatch flagship — 500
    # sigma-style labeler rules compiled into one match-once staged
    # projection + one write per category, read back through the
    # downstream explode the sequential chain cannot survive
    # (operators/dispatch.py, X34). Its time is dominated by the
    # driver-side compile of 500 Lucene filters (~linear, measured in
    # PLANS/rule_dispatch_probe.md) — that cost is the story, so it
    # is IN the timed region. The first-39 prefix (through
    # pipeline_pretrain_incremental) is the r13-comparable subtotal,
    # first-40 becomes the next round's.
    "rules_dispatch_labels",
]


SF1_SPOT = [
    "graph_pagerank",
    "text_bigram_lm",
    "dedup_minhash_lsh",
    "text_tfidf",
    "dedup_substring_spans",
    "text_repetition",
    "ann_topk_lsh",
    # r6: the iterative embedding model build (10x vectors) and the
    # corpus-wide budgeting window (10x documents)
    "embed_top_component",
    "corpus_domain_sampling",
    "dedup_pair_lcs",
    # r8: the PQ pipeline at 10x vectors (codebook train + encode —
    # expected ~linear: one stats job + narrow encode); theta reads
    # events, which the derived sf1 set does not include
    "embed_pq_codes",
    # r8: the exact prefix-filter joins at 10x docs. The derived
    # corpus alphabet-rotates each replica's text, so cross-replica
    # shingles never match: the TRUE pair set scales exactly 10x
    # (25 -> 250 within-replica pairs) and the spot measures the
    # candidate/verify plan, not a replica artifact.
    "dedup_setsim_prefix",
    "dedup_containment_join",
    # late-r8 wave 2: the same two iterative graph ops at 10x edges
    # (peel depth and LPA churn are the scale-sensitive parts; the
    # derived fact set already feeds the pagerank spot)
    "graph_kcore",
    "graph_lpa_communities",
    # r9: the level-synchronous BFS at 10x edges (frontier width and
    # level count are the scale-sensitive parts) and the mapInPandas
    # PNG round trip at 10x vectors (Arrow batch throughput — the
    # Python-stage scaling story, expected ~linear)
    "graph_bfs_hops",
    "multimodal_image_dhash",
    # r10 (the r9-verdict ask): the two newest heavy rows measured at
    # 10x instead of argued — the clustering-pipeline composite split
    # (10x documents; the embedded min-label-propagation rounds are
    # the scale-sensitive part) and the two-stage IVF-PQ + exact
    # rerank retrieval (10x vectors; candidate-set width drives the
    # rerank join)
    "split_leakage_free",
    "ann_ivfpq_rerank",
    # r11 (the r10-verdict ask): the flagship measured at 10x instead
    # of argued. This became honest when the derivation moved to the
    # STOP-WORD-PRESERVING rotation (DERIV_V2 below): replicas keep
    # the Gopher gate's required words verbatim, so the gate passes
    # every replica at the sf0.1 rate and the post-gate stages
    # (MinHash cluster dedup, Bloom decontamination, split, BPE) see
    # a true 10x survivor stream. Under the old whole-alphabet
    # rotation the gate passed ~1 of 10 replicas and the reading
    # would have claimed 10x scaling the heavy stages never saw.
    "pipeline_pretrain_v3",
    # r11: modularity inherits the LPA rounds it audits at 10x edges
    # plus one label-keyed agg for Q — the second-heaviest new row.
    "graph_lpa_modularity",
    #
    # late-r10: content-defined chunking at 10x documents — the
    # rolling-hash map is embarrassingly parallel (expected ~linear,
    # the dhash lesson); the chunk-hash agg and (doc, hash) witness
    # join are the scale-sensitive parts. The alphabet rotation
    # changes WHICH positions cut, not how many (the mod-64 rule
    # fires at the same rate on rotated text), so chunk counts scale
    # honestly. join_interval_overlap reads orders/lineitem, which
    # the derived sf1 set does not include; graph_link_prediction's
    # wedge join shares graph_triangles' edge derivation, likewise
    # fact-table-bound.
    "dedup_cdc_chunks",
    # r13 (the r12-verdict ask #4): the two-pass global rank measured
    # at 10x documents instead of argued — the r12 de-globalization
    # swapped shard_balance_tokens' partition-less window for the
    # range-shuffle + eager-localCheckpoint + partition-count-collect
    # rank (plans/ranks.py), which adds a materialization the old
    # window did not have; the 1x/10x ratio proves the trade wins (or
    # stays flat) where the single-task window would have funneled.
    "shard_balance_tokens",
]

_REPLICAS = 10
_ID_STRIDE = 10_000_000

# Committed idle reference for the machine-calibration probes,
# measured IN BENCH CONTEXT (after the full sf0.001 warmup pass —
# probes in a cold session read ~60% higher from shallower JIT, so a
# cold-session measurement would leave the band permanently slack):
# r7 build box, 32 cores, loadavg < 0.1/core, 2026-08-14. A FASTER
# box reads ratio < 1 and is always in-band — the gate is one-sided,
# catching contention/slowdown only. The scan probe swings ~25%
# within a single idle run (page-cache / readahead state), which the
# band absorbs. Re-measure and re-commit when the probes' definition
# changes, never to make a hot run pass.
# r8: calib_s tightened from the r7 value 0.13 to the MEASURED idle
# reference 0.113 (the r7 judge showed the slack 0.13 x 1.3 band
# would have admitted the r6 contended box at ratio 1.08).
CALIB_REF = {"calib_s": 0.113, "calib_scan_s": 0.35}
PROBE_BAND = 1.3


def ensure_sf1(spark, base_dir: str = "/root/testdata/sf0.1") -> str:
    """Build (once, cached) the derived 10x documents/embeddings set."""
    from pyspark.sql import functions as F

    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchdata", "sf1")
    doc_path = os.path.join(out_dir, "documents.parquet")
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    ord_path = os.path.join(out_dir, "orders.parquet")
    li_path = os.path.join(out_dir, "lineitem.parquet")
    # the cache guard must cover EVERY table this function writes: a
    # cache built by an older revision (docs+embeddings only) would
    # otherwise short-circuit the rebuild and load_tables would skip
    # the missing fact tables -> KeyError('orders') in the graph spot.
    # DERIV_V2 (r11): the text rotation became stop-word-preserving
    # (see below) — the marker file invalidates caches built by the
    # whole-alphabet V1 derivation. DERIV_V3 (r12, the r11 advice):
    # the preserve-set membership test now strips punctuation first,
    # so a stop word with attached punctuation ('the,') is preserved
    # too — gate parity with sf0.1 no longer depends on the corpus
    # being punctuation-free around stop words.
    ver_path = os.path.join(out_dir, "DERIV_V3")
    if all(os.path.isdir(p) for p in (doc_path, emb_path, ord_path, li_path)) and os.path.exists(ver_path):
        return out_dir

    alpha = "abcdefghijklmnopqrstuvwxyz"
    # r11 DERIV_V2: rotate each replica's alphabet ONLY on tokens
    # outside the stop-word set (Gopher required words + the language
    # markers/stopwords). Cross-replica shingles still never match —
    # a 13-gram would need 13 consecutive stop words — so the dedup
    # spots' "TRUE pair set scales exactly 10x" property holds, while
    # quality gates (Gopher stop-hits, language-ID) now see every
    # replica as English and pass at the sf0.1 rate: the flagship's
    # post-gate stages experience a real 10x survivor stream.
    from logprep_spark.functions.text import GOPHER_REQUIRED_WORDS, STOPWORDS_EN

    preserve = sorted(set(w.lower() for w in GOPHER_REQUIRED_WORDS + STOPWORDS_EN))
    preserve_sql = ", ".join("'{}'".format(w) for w in preserve)
    docs = spark.read.parquet(os.path.join(base_dir, "documents.parquet"))
    reps = []
    for i in range(_REPLICAS):
        rot = alpha[i:] + alpha[:i]
        text = (
            F.col("text")
            if i == 0
            else F.expr(
                # zero-width split keeps whitespace runs as their own
                # array elements, so the join reconstructs the exact
                # original layout (newlines drive the Gopher line
                # metrics — they must survive)
                # membership tests the ALPHA CORE of the segment (V3):
                # translate never touches punctuation anyway, so
                # preserving the whole segment when its letters spell
                # a stop word keeps 'the,' exactly as the Gopher
                # tokenizer will re-find it
                "array_join(transform("
                " split(text, '(?=\\\\s)|(?<=\\\\s)'),"
                " w -> IF(regexp_replace(lower(w), '[^a-z]', '')"
                " IN ({preserve}), w,"
                " translate(w, '{src}', '{dst}'))), '')".format(
                    preserve=preserve_sql,
                    src=alpha + alpha.upper(),
                    dst=rot + rot.upper(),
                )
            )
        )
        reps.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * _ID_STRIDE)).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    union = reps[0]
    for r in reps[1:]:
        union = union.unionByName(r)
    # 32 output files: sf0.1 arrives as ONE split, and a 10x single
    # file would serialize every downstream scan on 1-2 cores — real
    # 10x data has 10x the files, so spread the derived set too
    union.repartition(32).write.mode("overwrite").parquet(doc_path)

    emb = spark.read.parquet(os.path.join(base_dir, "embeddings.parquet"))
    reps = []
    for i in range(_REPLICAS):
        vec = (
            F.col("embedding")
            if i == 0
            else F.expr(
                f"concat(slice(embedding, {i + 1}, size(embedding) - {i}),"
                f" slice(embedding, 1, {i}))"
            )
        )
        reps.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * _ID_STRIDE)).alias("vec_id"),
                vec.alias("embedding"),
                "label",
            )
        )
    union = reps[0]
    for r in reps[1:]:
        union = union.unionByName(r)
    union.repartition(32).write.mode("overwrite").parquet(emb_path)

    # 10x fact tables for the iterative graph spot: orderkeys and
    # CUSTOMERS stride per replica (10x nodes on the customer side),
    # suppliers stay SHARED — replicated data keeps its hub structure
    # (hot suppliers gain 10x degree) instead of splitting into ten
    # disconnected clones, which would understate skew
    orders = spark.read.parquet(os.path.join(base_dir, "orders.parquet"))
    li = spark.read.parquet(os.path.join(base_dir, "lineitem.parquet"))
    o_reps, l_reps = [], []
    for i in range(_REPLICAS):
        o_reps.append(
            orders.select(
                (F.col("o_orderkey") + F.lit(i * _ID_STRIDE)).alias("o_orderkey"),
                (F.col("o_custkey") + F.lit(i * _ID_STRIDE)).alias("o_custkey"),
                "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
            )
        )
        l_reps.append(
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * _ID_STRIDE))
        )
    u = o_reps[0]
    for r in o_reps[1:]:
        u = u.unionByName(r)
    u.repartition(32).write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))
    u = l_reps[0]
    for r in l_reps[1:]:
        u = u.unionByName(r)
    u.repartition(32).write.mode("overwrite").parquet(os.path.join(out_dir, "lineitem.parquet"))
    with open(ver_path, "w") as fh:
        fh.write("stop-word-preserving rotation (r11)\n")
    return out_dir


def incremental_delta_spot(spark, sf01_dir: str, sf1_dir: str) -> dict:
    """r12 (r11 verdict ask #4): measure the incremental flagship's
    ACTUAL scaling claim — the delta pass reads persisted stores, not
    base text, so its cost should be near-flat in base size. Two
    configs, same 1x delta batch: (a) stores built from the 1x base
    (sf0.1's bottom-80%% corpus — the flagship's own split) and (b)
    stores built from the 10x base (every derived-sf1 corpus doc
    except the original delta rows, so the store never contains the
    probe's own fingerprints). Store builds are UNTIMED and cached on
    disk (production posture: yesterday's artifacts); the timed
    region is gate -> fingerprint-store anti-join -> band-store probe
    -> in-batch near-dup kill -> Bloom decontamination over the delta
    only, min-of-2 like the rest of the spot."""
    from pyspark.sql import functions as F

    from logprep_spark.functions.dedup import (
        exact_dedup,
        incremental_dedup_vs_store,
        minhash_bands,
        minhash_dedup,
        near_dup_vs_band_store,
        shingle_arrays,
        window_hashes,
    )
    from logprep_spark.functions import sketch as sk
    from logprep_spark.functions.text import gopher_filter, tokens
    from logprep_spark.session import fan_out, release_staging_cache

    m, j = 524288, 3  # the flagship's Bloom geometry (catalog._V3_BLOOM_*)
    docs01 = spark.read.parquet(os.path.join(sf01_dir, "documents.parquet"))
    corpus01 = docs01.filter(F.col("doc_id") % 5 != 0)
    cut = corpus01.selectExpr(
        "percentile_approx(doc_id, 0.8, 10000) AS c"
    ).collect()[0]["c"]
    delta = corpus01.filter(F.col("doc_id") > cut)
    max01 = docs01.agg(F.max("doc_id")).collect()[0][0]

    docs10 = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
    bases = {
        "1x": corpus01.filter(F.col("doc_id") <= cut),
        # all 10x corpus docs EXCEPT the original delta rows — replica
        # twins of delta docs stay (rotated text: different docs), the
        # probe batch itself must not seed its own store
        "10x": docs10.filter(
            (F.col("doc_id") % 5 != 0)
            & ~((F.col("doc_id") > cut) & (F.col("doc_id") <= max01))
        ),
    }
    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".benchdata"
    )
    fp_expr = F.md5(F.array_join(tokens(F.col("text")), " ")).alias("fp")
    for label, base in bases.items():
        d = os.path.join(root, f"incr_stores_{label}")
        if os.path.exists(os.path.join(d, "STORES_DERIV_V3")):
            continue
        base_g = gopher_filter(base, min_stop_hits=1)
        base_g.select(fp_expr).distinct().write.mode("overwrite").parquet(
            os.path.join(d, "fp.parquet")
        )
        base_exact = exact_dedup(base_g)
        minhash_bands(fan_out(base_exact)).select(
            F.col("doc_id").alias("hist_id"), "band_id", "band_key"
        ).write.mode("overwrite").parquet(os.path.join(d, "bands.parquet"))
        shingle_arrays(base_exact).select(
            F.col("doc_id").alias("hist_id"), "sh"
        ).write.mode("overwrite").parquet(os.path.join(d, "shingles.parquet"))
        with open(os.path.join(d, "STORES_DERIV_V3"), "w") as fh:
            fh.write(f"cut={cut}\n")

    # static decontamination filter (the benchmark slice) — identical
    # in both configs, built once outside the timed region
    bench_wh = (
        window_hashes(docs01.filter(F.col("doc_id") % 5 == 0), 13)
        .select("window_hash")
        .distinct()
    )
    bits = sk.bloom_bits(bench_wh, "window_hash", m=m, j=j).localCheckpoint(
        eager=True
    )

    def run_delta(store_dir: str) -> None:
        fp_store = spark.read.parquet(os.path.join(store_dir, "fp.parquet"))
        bands = spark.read.parquet(os.path.join(store_dir, "bands.parquet"))
        shing = spark.read.parquet(
            os.path.join(store_dir, "shingles.parquet")
        )
        delta_g = gopher_filter(delta, min_stop_hits=1)
        d_exact = incremental_dedup_vs_store(delta_g, fp_store)
        hist_near = (
            near_dup_vs_band_store(d_exact, bands, shing, threshold=0.7)
            .select("doc_id")
            .distinct()
        )
        batch_near = (
            minhash_dedup(d_exact, threshold=0.7)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        kills = hist_near.unionByName(batch_near).distinct()
        survivors = d_exact.join(kills, "doc_id", "left_anti")
        hit = (
            sk.bloom_suppress(
                window_hashes(survivors, 13).distinct(),
                bits,
                "window_hash",
                m=m,
                j=j,
                keep_hits=True,
            )
            .select("doc_id")
            .distinct()
        )
        survivors.join(hit, "doc_id", "left_anti").select(
            "doc_id"
        ).write.format("noop").mode("overwrite").save()

    timings = {}
    spreads = {}
    for label in ("1x", "10x"):
        ts = []
        for _ in range(3):
            release_staging_cache(spark)
            t0 = time.time()
            run_delta(os.path.join(root, f"incr_stores_{label}"))
            ts.append(time.time() - t0)
        ts.sort()
        timings[label] = round(ts[0], 3)
        spreads[label] = {
            "min": round(ts[0], 3),
            "med": round(ts[len(ts) // 2], 3),
            "max": round(ts[-1], 3),
        }
    return {
        "delta_rows": delta.count(),
        "base_1x_s": timings["1x"],
        "base_10x_s": timings["10x"],
        "ratio_10x_vs_1x": round(timings["10x"] / max(timings["1x"], 1e-9), 3),
        "spread": spreads,
        "runs_per_query": 3,
        "stat": "min",
    }


def main() -> None:
    from logprep_spark.plans import catalog
    from logprep_spark.session import get_spark

    spark = get_spark("logprep-spark-bench")
    qs = catalog.queries()

    # warm the JVM + parquet footer cache outside the timed region
    catalog.tables(spark, SF_DIR)

    # compile/JIT warmup at the smallest SF (not the timed data)
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(SF_DIR):
        for name in HEADLINE:
            qs[name](spark, warm_dir).write.format("noop").mode("overwrite").save()

    def timed_stats(run, n: int = 3) -> dict[str, float]:
        # min/med/max of n runs: the median is the headline number;
        # the published spread lets a reader adjudicate per-query
        # swings that box-level probes cannot see (r7's
        # dedup_minhash_lsh 0.52->1.16 forensics pass — if the min is
        # flat round-over-round, the swing is measurement noise, not
        # a plan regression)
        ts = []
        for _ in range(n):
            t0 = time.time()
            run()
            ts.append(time.time() - t0)
        ts.sort()
        return {
            "min": round(ts[0], 3),
            "med": round(ts[n // 2], 3),
            "max": round(ts[-1], 3),
        }

    def timed_median(run, n: int = 3) -> float:
        return timed_stats(run, n)["med"]

    # fixed machine-calibration probes, identical every round — a
    # contended box shows up here first. Two axes because they load
    # different subsystems: the CPU probe (pure codegen arithmetic, no
    # IO) under-measured the r5 drift (probe +3%, queries +15-25%);
    # the SCAN probe exercises the parquet decode path (page cache,
    # syscalls, decompression) that real queries actually ride.
    def calib() -> None:
        spark.range(50_000_000).selectExpr("sum(id * 2) AS s").write.format(
            "noop"
        ).mode("overwrite").save()

    li_path = os.path.join(SF_DIR, "lineitem.parquet")

    def calib_scan() -> None:
        li = spark.read.parquet(li_path)
        cols = ", ".join(li.columns)
        # bit_xor fold: overflow-free under ANSI, still forces a full
        # decode of every column
        li.selectExpr(f"bit_xor(xxhash64({cols})) AS h").write.format(
            "noop"
        ).mode("overwrite").save()

    calib()  # warm the probes' codegen outside their timing
    calib_scan()

    def probes() -> tuple[float, float]:
        # median-of-5: the probes GATE the run, so they get two more
        # samples than the queries to keep false out-of-band retries
        # (each a full headline re-run) rare
        return timed_median(calib, 5), timed_median(calib_scan, 5)

    def run_headline() -> dict[str, dict[str, float]]:
        # r14 NOTE (tried and REVERTED, measured — see
        # OPTIMIZATION_r14.md): a clearCache before each query's
        # timed runs was tested to remove cross-query cache
        # pressure (which inflates late rows ~2x vs isolated). It
        # also removed the cross-query CacheManager sharing that
        # every earlier round's numbers implicitly ride (canonically
        # identical staging frames — e.g. the co-purchase edge
        # derivation — reused across the graph family), made the
        # family's mins WORSE (graph_lpa_communities 2.6 -> 14.2 s
        # under the same conditions), and broke round-over-round
        # comparability. Methodology therefore stays as r4-r13;
        # per-query isolation claims use isolated runs, documented
        # in the round notes.
        t: dict[str, dict[str, float]] = {}
        for name in HEADLINE:
            t[name] = timed_stats(
                lambda: qs[name](spark, SF_DIR)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        return t

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # the band only binds at the official config: the scan probe's
    # absolute cost is SF-dependent, so the committed reference only
    # means something at sf0.1
    gated = sf_val == 0.1
    max_attempts = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3")))
    best = None
    for attempt in range(1, max_attempts + 1):
        pre = probes()
        timings = run_headline()
        post = probes()
        ratio = round(
            max(
                max(pre[0], post[0]) / CALIB_REF["calib_s"],
                max(pre[1], post[1]) / CALIB_REF["calib_scan_s"],
            ),
            3,
        )
        if best is None or ratio < best[0]:
            best = (ratio, pre, post, timings, attempt)
        if not gated or ratio <= PROBE_BAND:
            break
        print(
            f"bench: attempt {attempt} probes out of band "
            f"(ratio {ratio} > {PROBE_BAND}), retrying",
            file=sys.stderr,
        )
    ratio, pre, post, spreads, _ = best
    # r12 (r11 verdict §perf): the headline number is the MIN of the
    # three runs, not the median — the r11 driver/builder same-code
    # disagreement (text_tfidf 0.49 ↔ 4.73 s) proved a contended box
    # can swing the median 10x, while the min bounds the plan's cost;
    # all three attempts stay recorded in queries_spread
    timings = {n: s["min"] for n, s in spreads.items()}
    attempts_used = attempt
    verdict = (
        "ungated_sf"
        if not gated
        else ("in_band" if ratio <= PROBE_BAND else "out_of_band")
    )
    calib_s, calib_scan_s = pre

    sf1_block = None
    if os.environ.get("SPARK_GRAFT_SF1_SPOT", "1") != "0":
        # release the headline queries' staging persists before the 10x
        # block (see session.release_staging_cache — bounded by LRU
        # either way, but the spot should start from a clean store)
        from logprep_spark.session import release_staging_cache

        release_staging_cache(spark)
        sf1_dir = ensure_sf1(spark)
        # min-of-2 per query (r9; was single-shot): the spot exists to
        # expose super-linear scaling (10x data, ~10x expected time),
        # but the r8 single-shot spot on a contended box read 1.2-1.5x
        # slow across the board and faked that exact signal — the min
        # of two runs bounds the plan's cost; median-of-3 on the heavy
        # set would triple the bench's tail for little more
        sf1_timings = {}
        sf1_spreads = {}
        for name in SF1_SPOT:
            ts = []
            for _ in range(3):
                # clear persisted staging BEFORE each iteration, not
                # just before the block: several spot queries persist
                # their pair/model stages, so without this the second
                # run measures INCREMENTAL cost and min-of-N reads a
                # cached 0.5 s for a 10x minhash run — exactly the
                # kind of too-good number the spot exists to catch,
                # manufactured by the spot itself. min-of-N should
                # absorb CONTENTION, never cache reuse.
                # r14 (r13 verdict ask #2): 3 runs with a recorded
                # min/med/max spread — the r13 sf1 regressions
                # (dedup_cdc_chunks +46%, lpa +20%) decomposed to
                # nothing in the diffed code and needed the spread to
                # adjudicate contention vs plan cost.
                release_staging_cache(spark)
                t0 = time.time()
                qs[name](spark, sf1_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                ts.append(time.time() - t0)
            ts.sort()
            sf1_timings[name] = round(ts[0], 3)
            sf1_spreads[name] = {
                "min": round(ts[0], 3),
                "med": round(ts[len(ts) // 2], 3),
                "max": round(ts[-1], 3),
            }
        sf1_block = {
            "queries": sf1_timings,
            "queries_spread": sf1_spreads,
            "total": round(sum(sf1_timings.values()), 3),
            "rows_vs_headline": _REPLICAS,
            "runs_per_query": 3,
            "stat": "min",
        }
        # r12: the incremental flagship's base-size-independence claim,
        # measured (same 1x delta probing 1x-base vs 10x-base stores)
        release_staging_cache(spark)
        sf1_block["incremental_delta"] = incremental_delta_spot(
            spark, SF_DIR, sf1_dir
        )
        # r13 (the r12-verdict ask #4): the two-pass global rank priced
        # at both scales — shard_balance_tokens is spot-only (not a
        # headline query), so its 1x time is measured HERE, same
        # min-of-2 protocol, and the 1x/10x ratio rides the artifact
        ts1 = []
        for _ in range(3):
            release_staging_cache(spark)
            t0 = time.time()
            qs["shard_balance_tokens"](spark, SF_DIR).write.format(
                "noop"
            ).mode("overwrite").save()
            ts1.append(time.time() - t0)
        r1x = round(min(ts1), 3)
        sf1_block["rank_two_pass"] = {
            "shard_balance_1x_s": r1x,
            "shard_balance_10x_s": sf1_timings["shard_balance_tokens"],
            "ratio_10x_vs_1x": round(
                sf1_timings["shard_balance_tokens"] / max(r1x, 1e-9), 3
            ),
            "runs_per_query": 3,
            "stat": "min",
        }

    names = list(timings)
    out = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # round-over-round comparability without manual arithmetic:
        # the first 12 queries are the long-run subtotal (r1-r3), the
        # first 15 the r4-comparable one (SURVEY §6)
        "comparable_12": round(sum(timings[n] for n in names[:12]), 3),
        "comparable_15": round(sum(timings[n] for n in names[:15]), 3),
        "comparable_19": round(sum(timings[n] for n in names[:19]), 3),
        "comparable_22": round(sum(timings[n] for n in names[:22]), 3),
        "comparable_24": round(sum(timings[n] for n in names[:24]), 3),
        "comparable_26": round(sum(timings[n] for n in names[:26]), 3),
        "comparable_28": round(sum(timings[n] for n in names[:28]), 3),
        "comparable_30": round(sum(timings[n] for n in names[:30]), 3),
        "calib_s": calib_s,
        "calib_scan_s": calib_scan_s,
        "calib_post_s": post[0],
        "calib_scan_post_s": post[1],
        "calib_ref": CALIB_REF,
        "probe_band": PROBE_BAND,
        "probe_ratio": ratio,
        "probe_verdict": verdict,
        "bench_attempts": attempts_used,
        "stat": "min_of_3",
        "sf": sf_val,
    }
    # r15 scale guard (r14 verdict ask #8, REPORT-ONLY): the r14
    # anti-scaling regressions (8 cores beating 32 on the heavy rows)
    # surfaced only at judging. Each gated run now writes its
    # per-query mins to the gitignored
    # .benchdata/BENCH_BYCPU_c<cpus>.json; when a sibling file
    # from a DIFFERENT core count exists at the same sf, the full
    # artifact carries per-query ratios (this_run / ref_run) plus the
    # ref file's age — purely informational, never gates anything.
    # A ratio well below 1 against a LOWER core count means the row
    # anti-scales (more cores, slower row).
    scale_block = None
    if gated:
        try:
            import glob as _glob
            import re as _re

            here = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), ".benchdata"
            )
            os.makedirs(here, exist_ok=True)
            my_path = os.path.join(here, f"BENCH_BYCPU_c{cpus_env}.json")
            with open(my_path, "w") as fh:
                json.dump(
                    {"cpus": cpus_env, "sf": sf_val, "queries": timings,
                     "total": out["value"], "written_at": time.time()},
                    fh, indent=1,
                )
                fh.write("\n")
            refs = [
                p for p in _glob.glob(os.path.join(here, "BENCH_BYCPU_c*.json"))
                if p != my_path and _re.search(r"BENCH_BYCPU_c\d+\.json$", p)
            ]
            if refs:
                ref = json.load(open(sorted(refs)[0]))
                if ref.get("sf") == sf_val and ref.get("queries"):
                    ratios = {
                        n: round(v / ref["queries"][n], 3)
                        for n, v in timings.items()
                        if ref["queries"].get(n)
                    }
                    scale_block = {
                        "ref_cpus": ref.get("cpus"),
                        "this_cpus": cpus_env,
                        "ref_age_s": round(
                            time.time() - ref.get("written_at", 0), 1
                        ),
                        "ratios_vs_ref": ratios,
                    }
        except Exception:
            scale_block = None
    # full artifact: headline + per-query spreads + the sf1 spot
    # detail. Printed as its OWN stdout line (before the headline, so
    # a tail capture always ends on the compact line) and written to
    # the committed side file BENCH_FULL.json at the official config
    # — the r8 headline line carried all of this inline and overflowed
    # the driver's tail capture (BENCH_r08 archived "parsed": null).
    full = dict(out)
    if scale_block is not None:
        full["scale_ref"] = scale_block
    full["metric"] = "headline_full"
    full["queries_spread"] = spreads
    if sf1_block is not None:
        full["sf1_spot"] = sf1_block
        out["sf1_total"] = sf1_block["total"]
        incr = sf1_block.get("incremental_delta")
        if incr:
            # the incremental flagship's base-size-independence claim
            # must survive the driver's tail capture, not just the
            # side file — ride the compact line
            out["incr_delta_1x_s"] = incr["base_1x_s"]
            out["incr_delta_10x_s"] = incr["base_10x_s"]
        rank = sf1_block.get("rank_two_pass")
        if rank:
            out["rank_1x_s"] = rank["shard_balance_1x_s"]
            out["rank_10x_s"] = rank["shard_balance_10x_s"]
    print(json.dumps(full))
    if gated:
        side = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
        )
        with open(side, "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
