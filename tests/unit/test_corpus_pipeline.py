"""Config-driven corpus pipeline (logprep_spark/corpus.py): the §2.4
operators composed from YAML the way the log half composes processors."""

import re

import pytest
from pyspark.sql import functions as F

from logprep_spark.corpus import CorpusPipeline
from logprep_spark.factory import ConfigError


def test_yaml_pipeline_end_to_end(spark, tmp_path):
    cfg = tmp_path / "corpus.yml"
    cfg.write_text(
        """
text_col: text
pipeline:
  - op: unicode_clean
  - op: quality_score
  - op: exact_dedup
  - op: pii_redact
  - op: token_count
  - op: filter
    where: "n_tokens >= 3"
"""
    )
    p = CorpusPipeline.from_file(str(cfg))
    assert p.step_names == [
        "unicode_clean", "quality_score", "exact_dedup",
        "pii_redact", "token_count", "filter",
    ]
    df = spark.createDataFrame(
        [(1, "mail bob@x.co and some words here"),
         (2, "mail bob@x.co and some words here"),   # exact dup
         (3, "too short"),
         (4, "another document with enough words in it")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in p.transform(df).collect()}
    assert sorted(rows) == [1, 4]                       # dup 2 + short 3 dropped
    assert "<pii:email>" in rows[1]["text"]
    assert "quality" in rows[1].asDict() and "n_tokens" in rows[1].asDict()


def test_unknown_op_and_option_fail_at_build(spark):
    with pytest.raises(ConfigError, match="unknown op"):
        CorpusPipeline([{"op": "nope"}])
    with pytest.raises(ConfigError, match="unknown option"):
        CorpusPipeline([{"op": "exact_dedup", "bogus": 1}])
    with pytest.raises(ConfigError, match="missing option"):
        CorpusPipeline([{"op": "filter"}])


def test_hash_split_percentages_checked_at_build():
    """train_pct/val_pct come from YAML: a negative value or a sum
    over 100 would silently empty a split, so the pipeline refuses
    them while it is constructed — before any DataFrame exists, so
    before any job runs."""
    bad = [
        {"train_pct": 90, "val_pct": 20},
        {"train_pct": -1},
        {"val_pct": -5},
        {"train_pct": "80"},
    ]
    for kw in bad:
        with pytest.raises(ConfigError, match="hash_split"):
            CorpusPipeline(
                [{"op": "bpe_train_token_count"}, {"op": "hash_split", **kw}]
            )
    for kw in ({}, {"train_pct": 90, "val_pct": 10}, {"train_pct": 0, "val_pct": 0}):
        CorpusPipeline([{"op": "hash_split", **kw}])


def test_line_dedup_step_keeps_other_columns(spark):
    p = CorpusPipeline([{"op": "line_dedup"}])
    df = spark.createDataFrame(
        [(1, "keep me\nboilerplate line", "s1"),
         (2, "boilerplate line\nunique text", "s2")],
        ["doc_id", "text", "source"],
    )
    rows = {r["doc_id"]: r for r in p.transform(df).collect()}
    assert rows[1]["source"] == "s1" and rows[2]["source"] == "s2"
    # the second occurrence of the boilerplate line is gone
    assert "boilerplate" not in rows[2]["text"]
    assert "unique text" in rows[2]["text"]


def test_quality_model_step_in_pipeline(spark):
    from logprep_spark.corpus import CorpusPipeline

    p = CorpusPipeline(
        [{"op": "quality_model"},
         {"op": "filter", "where": "prob_milli >= 500"}]
    )
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog and then rests "
             "for a while in the warm afternoon sun with friends"),
         (2, "x")],
        ["doc_id", "text"],
    )
    out = p.transform(df)
    assert "prob_milli" in out.columns
    assert out.count() <= 2  # model gate applied without error


def test_corpus_pipeline_runs_on_streams(spark, tmp_path):
    """The narrow corpus steps run UNCHANGED on a Structured-Streaming
    frame — the corpus half keeps the log half's batch/stream parity
    promise (dedup steps are batch-only; the narrow scoring/redaction
    front is the streaming-safe subset)."""
    import json as _json

    d = tmp_path / "docs-in"
    d.mkdir()
    (d / "b0.jsonl").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"doc_id": 1, "text": "mail bob@x.co plus plenty of ordinary words"},
                {"doc_id": 2, "text": "tiny"},
            ]
        )
        + "\n"
    )
    p = CorpusPipeline(
        [{"op": "quality_score"}, {"op": "pii_redact"}, {"op": "token_count"}]
    )
    stream = spark.readStream.schema("doc_id long, text string").json(str(d))
    q = (
        p.transform(stream)
        .writeStream.format("memory")
        .queryName("corpus_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM corpus_stream_out").collect()}
    assert "<pii:email>" in rows[1]["text"]
    assert rows[2]["n_tokens"] == 1 and "quality" in rows[1].asDict()


def test_bpe_token_count_step(spark):
    """The BPE sequence-length budget step: 'the ring' costs 2 BPE
    tokens (both fully merge) where the whitespace proxy also says 2,
    but 'xyz xyz' costs 6 BPE tokens (never merges) vs the proxy's 2
    — the divergence the step exists to expose; wordless docs read 0,
    and the step composes in a config like any other."""
    df = spark.createDataFrame(
        [(1, "the ring"), (2, "xyz xyz"), (3, "!!!")],
        ["doc_id", "text"],
    )
    p = CorpusPipeline([{"op": "bpe_token_count", "rounds": 3}])
    rows = {r["doc_id"]: r["n_bpe_tokens"] for r in p.transform(df).collect()}
    assert rows == {1: 2, 2: 6, 3: 0}


def test_c4_and_domain_sample_steps(spark):
    """r6 steps: c4_filter rewrites text to the retained lines and
    drops failing docs; domain_sample keeps the hash-chosen docs
    within each domain's temperature budget."""
    good = (
        "This is a fine sentence with plenty of words today.\n"
        "Another good sentence follows right here and now.\n"
        "And a third one completes the minimum requirement nicely."
    )
    rows = [(i, good, f"s{i % 2}") for i in range(8)]
    rows.append((99, "no punctuation no luck here", "s0"))  # c4 drops
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    p = CorpusPipeline([{"op": "c4_filter"}])
    out = p.transform(df)
    assert out.count() == 8  # doc 99 gated out
    assert "c4_pass" not in out.columns  # audit cols dropped on keep_only

    p2 = CorpusPipeline(
        [{"op": "c4_filter"}, {"op": "domain_sample", "budget_num": 1, "budget_den": 2}]
    )
    kept = p2.transform(df)
    n = kept.count()
    assert 0 < n < 8  # the 50% token budget visibly binds
    # deterministic under re-partitioning
    ids = sorted(r["doc_id"] for r in kept.collect())
    ids2 = sorted(
        r["doc_id"] for r in p2.transform(df.repartition(5)).collect()
    )
    assert ids == ids2

    with pytest.raises(ConfigError):
        CorpusPipeline([{"op": "domain_sample", "budget_numm": 1}])


def test_c4_and_quality_model_steps_honor_id_col(spark):
    """A corpus whose id column isn't ``doc_id`` must still run the
    c4_filter and quality_model steps (the r6 ADVICE finding: the
    steps hardcoded the join key even though text_col was
    configurable)."""
    good = (
        "This is a fine sentence with plenty of words today.\n"
        "Another good sentence follows right here and now.\n"
        "And a third one completes the minimum requirement nicely."
    )
    rows = [(i, good, f"s{i % 2}") for i in range(4)]
    rows.append((99, "no punctuation no luck here", "s0"))
    df = spark.createDataFrame(rows, ["page_id", "text", "source"])

    p = CorpusPipeline(
        [
            {"op": "c4_filter", "id_col": "page_id"},
            {"op": "quality_model", "id_col": "page_id"},
        ]
    )
    out = p.transform(df)
    assert out.count() == 4  # doc 99 gated out, the rest scored
    assert "prob_milli" in out.columns and "page_id" in out.columns


def _chain_docs(spark, id_col="doc_id"):
    """Docs 1~2 and 2~3 verified near-dups at threshold 750 (shingle
    Jaccard 0.82) but 1 vs 3 not (0.67), so {1, 2, 3} is one cluster
    only through doc 2; doc 4 shares nothing."""
    words = [f"tok{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(60)]
    other = "completely different content about spark partitions and joins"
    return spark.createDataFrame(
        [(i + 1, " ".join(words[4 * i : 4 * i + 42])) for i in range(3)]
        + [(4, other)],
        [id_col, "text"],
    )


def test_cluster_steps_honor_id_col(spark):
    """leakage_split and cluster_dedup run on a corpus keyed by
    ``page_id`` (dd.dup_clusters names its id ``doc_id``; the shared
    cluster helper hands back the caller's id column) — both
    composed in one pipeline and each in a pipeline of its own."""
    df = _chain_docs(spark, "page_id")
    steps = [
        {"op": "leakage_split", "threshold_milli": 750, "id_col": "page_id"},
        {"op": "cluster_dedup", "threshold_milli": 750, "id_col": "page_id"},
    ]
    out = CorpusPipeline(steps).transform(df)
    assert sorted(r.page_id for r in out.collect()) == [1, 4]
    assert "split" in out.columns

    tagged = CorpusPipeline(steps[:1]).transform(df).collect()
    assert len({r.split for r in tagged if r.page_id <= 3}) == 1  # one cluster, one split
    alone = CorpusPipeline(steps[1:]).transform(df)
    assert sorted(r.page_id for r in alone.collect()) == [1, 4]


def test_dedup_steps_take_options_and_honor_columns(spark):
    """line_dedup and exact_dedup accept their options (the module
    docstring's ``min_occurrences: 2``, ``id_col``) and keep a text
    column not named ``text`` under its own name for later steps."""
    df = spark.createDataFrame(
        [(1, "keep me\nboiler line", "s1"),
         (2, "boiler line\nunique two", "s2"),
         (3, "unique three\nboiler line", "s3"),
         (4, "unique  two", "s4")],  # exact dup of 2 once normalized
        ["page_id", "body", "source"],
    )
    steps = [
        {"op": "line_dedup", "min_occurrences": 2, "id_col": "page_id"},
        {"op": "exact_dedup", "id_col": "page_id"},
        {"op": "token_count"},
    ]
    out = CorpusPipeline(steps, text_col="body").transform(df)
    assert sorted(out.columns) == ["body", "n_tokens", "page_id", "source"]
    rows = {r.page_id: r for r in out.collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[1].body == "keep me\nboiler line" and rows[1].source == "s1"
    assert rows[2].body == "unique two" and rows[2].n_tokens == 2
    assert rows[3].body == "unique three" and rows[3].source == "s3"

    steps[0]["min_occurrences"] = 4  # the line occurs 3 times: kept
    rows = {
        r.page_id: r
        for r in CorpusPipeline(steps, text_col="body").transform(df).collect()
    }
    assert sorted(rows) == [1, 2, 3, 4]
    assert rows[2].body == "boiler line\nunique two"


def _count_dup_clusters(monkeypatch) -> list:
    from logprep_spark.functions import dedup as dd

    calls = []
    real = dd.dup_clusters

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(dd, "dup_clusters", counting)
    return calls


def test_cluster_frame_built_once_per_transform(spark, monkeypatch):
    """The pretrain-v3 order leakage_split -> cluster_dedup at one
    threshold builds the near-dup clusters ONCE per transform /
    transform_observed call, and lands on exactly what the two steps
    give when each runs as its own pipeline: survivors, split tags
    and every per-step retention count."""
    df = _chain_docs(spark).union(
        spark.createDataFrame(
            [(5, "a short unrelated note"), (6, "a short unrelated note")],
            ["doc_id", "text"],
        )
    )
    steps = [
        {"op": "filter", "where": "doc_id != 4"},
        {"op": "leakage_split", "threshold_milli": 750},
        {"op": "cluster_dedup", "threshold_milli": 750},
    ]
    calls = _count_dup_clusters(monkeypatch)
    shared = sorted(map(tuple, CorpusPipeline(steps).transform(df).collect()))
    assert len(calls) == 1
    out, obs = CorpusPipeline(steps).transform_observed(df)
    observed = sorted(map(tuple, out.collect()))
    assert len(calls) == 2

    counts, frame = {}, df
    for i, step in enumerate(steps):
        frame, step_obs = CorpusPipeline([step]).transform_observed(frame)
        frame.count()
        if i == 0:
            counts["input"] = step_obs["input"].get["n_docs"]
        counts[f"{i}:{step['op']}"] = step_obs[f"0:{step['op']}"].get["n_docs"]
    unshared = sorted(map(tuple, frame.collect()))
    assert len(calls) == 4
    assert shared == observed == unshared
    assert [r[0] for r in shared] == [1, 5]
    assert {k: o.get["n_docs"] for k, o in obs.items()} == counts == {
        "input": 6, "0:filter": 5, "1:leakage_split": 5, "2:cluster_dedup": 2,
    }


def test_stale_cluster_frame_never_reused(spark, monkeypatch):
    """A step that can drop docs invalidates the shared cluster frame:
    with doc 2 (the only link between 1 and 3) filtered out after
    leakage_split, cluster_dedup must re-cluster and keep both 1 and
    3 — the stale {1, 2, 3} cluster would drop 3. Different
    thresholds never share a frame either."""
    df = _chain_docs(spark)
    calls = _count_dup_clusters(monkeypatch)
    out = CorpusPipeline([
        {"op": "leakage_split", "threshold_milli": 750},
        {"op": "filter", "where": "doc_id != 2"},
        {"op": "cluster_dedup", "threshold_milli": 750},
    ]).transform(df)
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4]
    assert len(calls) == 2

    out = CorpusPipeline([
        {"op": "leakage_split", "threshold_milli": 750},
        {"op": "cluster_dedup", "threshold_milli": 600},
    ]).transform(df)
    assert sorted(r.doc_id for r in out.collect()) == [1, 4]
    assert len(calls) == 4

    with pytest.raises(ConfigError):  # the memo is never a config option
        CorpusPipeline([{"op": "cluster_dedup", "memo": {}}])


def test_near_dedup_step_drops_higher_id_near_dupes(spark):
    """r6 step: near_dedup removes the higher-id member of each
    verified MinHash near-dup pair and keeps everything else — with
    extra columns intact for downstream steps."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill nearby every single day"
    )
    near = base.replace("lazy", "sleepy")  # high Jaccard to base
    other = (
        "completely different content about spark partitions shuffles "
        "and broadcast joins at a hundred terabytes of corpus scale"
    )
    df = spark.createDataFrame(
        [(1, base, "s0"), (2, near, "s0"), (3, other, "s1")],
        ["doc_id", "text", "source"],
    )
    out = CorpusPipeline([{"op": "near_dedup", "threshold_milli": 600}]).transform(df)
    rows = {r.doc_id: r for r in out.collect()}
    assert sorted(rows) == [1, 3]  # doc 2 dropped, lowest id kept
    assert rows[1].source == "s0"  # extra columns survive

    with pytest.raises(ConfigError):
        CorpusPipeline([{"op": "near_dedup", "treshold_milli": 600}])


def test_transform_observed_per_step_retention(spark, tmp_path, capsys):
    """Per-step retention at zero extra scans: every Observation on
    the one plan fills from the single write action; counts match the
    steps' actual filtering. Also exercised through the CLI --stats
    path."""
    rows = [
        (1, "a good long document with many reasonable words here", "s0"),
        (2, "a good long document with many reasonable words here", "s0"),
        (3, "tiny", "s1"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    pipe = CorpusPipeline(
        [{"op": "token_count"}, {"op": "filter", "where": "n_tokens >= 3"},
         {"op": "exact_dedup"}]
    )
    out, obs = pipe.transform_observed(df)
    out.write.mode("overwrite").parquet(str(tmp_path / "o"))
    counts = {label: o.get["n_docs"] for label, o in obs.items()}
    assert counts["input"] == 3
    assert counts["1:filter"] == 2       # doc 3 gated
    assert counts["2:exact_dedup"] == 1  # dup of doc 1 removed

    from logprep_spark.__main__ import main

    cfg = tmp_path / "c.yml"
    cfg.write_text(
        "pipeline:\n  - op: token_count\n"
        "  - op: filter\n    where: \"n_tokens >= 3\"\n  - op: exact_dedup\n"
    )
    src = tmp_path / "src.parquet"
    df.write.parquet(str(src))
    assert main([
        "corpus", "run", str(cfg), str(src), str(tmp_path / "out2"), "--stats",
    ]) == 0
    printed = capsys.readouterr().out
    assert "input\t3 docs" in printed
    assert "2:exact_dedup\t1 docs" in printed and "500 milli kept" in printed
    # each step's build wall time sits beside its retention count
    lines = {ln.split("\t")[0]: ln for ln in printed.splitlines()}
    assert "built in" not in lines["input"]
    for label in ("0:token_count", "1:filter", "2:exact_dedup"):
        assert re.search(r"\tbuilt in \d+\.\d{3} s$", lines[label])


def test_weighted_sample_step(spark):
    """r8 step: A-Res weighted subsampling keeps n docs with
    probability proportional to the weight column — deterministic
    (salted id hash), so the same pipeline config reproduces the same
    sample; non-default weight_col and n are honored."""
    import hashlib
    import math

    df = spark.createDataFrame(
        [(i, f"doc {i} text", (i % 5) + 1) for i in range(60)],
        ["doc_id", "text", "quality_w"],
    )
    p = CorpusPipeline(
        [{"op": "weighted_sample", "weight_col": "quality_w", "n": 12}]
    )
    out = p.transform(df).collect()
    assert len(out) == 12
    assert {r["text"] for r in out} <= {f"doc {i} text" for i in range(60)}

    def pri(i, w):
        h = int(hashlib.md5(f"ws:{i}".encode()).hexdigest()[:15], 16)
        return math.log((h + 1) / float(1 << 60)) / w

    want = {
        i for i, _ in sorted(
            ((i, (i % 5) + 1) for i in range(60)),
            key=lambda r: -pri(r[0], r[1]),
        )[:12]
    }
    assert {r["doc_id"] for r in out} == want


def test_bloom_suppress_step_gates_on_stored_filter(spark, tmp_path):
    """r8 step: the pipeline drops every doc whose key hits the
    STORED Bloom filter at the configured path — the opt-out /
    already-ingested gate applied without re-reading the filter's
    build corpus. Members never survive (no false negatives)."""
    from logprep_spark.functions.sketch import bloom_bits

    optout = spark.createDataFrame(
        [(f"doc{i}",) for i in range(0, 40, 2)], ["doc_id"]
    )
    path = str(tmp_path / "optout_bloom")
    bloom_bits(optout, "doc_id", m=256, j=3).write.parquet(path)

    df = spark.createDataFrame(
        [(f"doc{i}", f"text {i}") for i in range(40)], ["doc_id", "text"]
    )
    p = CorpusPipeline(
        [{"op": "bloom_suppress", "path": path, "m": 256, "j": 3}]
    )
    out = p.transform(df).collect()
    kept = {r.doc_id for r in out}
    # every even (listed) doc suppressed, survivors only odd docs
    assert not kept & {f"doc{i}" for i in range(0, 40, 2)}
    assert kept <= {f"doc{i}" for i in range(1, 40, 2)}
    assert all(r.text == f"text {r.doc_id[3:]}" for r in out)

    # path is required at BUILD time
    with pytest.raises(ConfigError):
        CorpusPipeline([{"op": "bloom_suppress"}])


def test_pretrain_v3_yaml_parity(spark, sf_dir, tmp_path):
    """The X30 factory can express the pipeline_pretrain_v3 flagship:
    a YAML pipeline (benchmark exclusion -> gopher gate -> group-aware
    leakage_split -> cluster_dedup -> stored-Bloom decontaminate ->
    BPE trained on the train split + per-doc token budget) must land
    on the SAME per-split survivor counts and BPE token totals as the
    hash-gated catalog query AND as its DuckDB oracle over the same
    parquet — the catalog row and the YAML steps share stage helpers,
    so the oracle is the independent side of the check.
    (leakage_split runs before cluster_dedup — for surviving
    representatives the cluster-id hash equals their own-id hash, so
    either order tags survivors identically; before matches the
    catalog query's construction.)"""
    import duckdb

    from logprep_spark.functions import dedup as dd
    from logprep_spark.functions import sketch as sk
    from logprep_spark.plans import catalog

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the stored decontamination artifact: the benchmark's 13-gram
    # window-hash Bloom position frame
    bench = docs.filter("doc_id % 5 = 0")
    bloom_path = str(tmp_path / "bench_bloom")
    sk.bloom_bits(
        dd.window_hashes(bench, 13).select("window_hash").distinct(),
        "window_hash", m=524288, j=3,
    ).write.parquet(bloom_path)

    cfg = tmp_path / "pretrain.yml"
    cfg.write_text(
        f"""
text_col: text
pipeline:
  - op: filter
    where: "doc_id % 5 != 0"
  - op: gopher_filter
    min_stop_hits: 1
  - op: leakage_split
    threshold_milli: 700
  - op: cluster_dedup
    threshold_milli: 700
  - op: decontaminate
    path: "{bloom_path}"
    k: 13
    m: 524288
    j: 3
  - op: bpe_train_token_count
    n_merges: 6
    rounds: 2
    train_where: "split = 'train'"
"""
    )
    out = CorpusPipeline.from_file(str(cfg)).transform(docs)
    got = {
        r["split"]: (r["n_final"], r["bpe_tokens"])
        for r in out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_final"),
            F.sum("n_bpe_tokens").alias("bpe_tokens"),
        )
        .collect()
    }
    want = {
        r["split"]: (r["n_final"], r["bpe_tokens"])
        for r in catalog.queries()["pipeline_pretrain_v3"](
            spark, sf_dir
        ).collect()
    }
    assert got == want

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    oracle = con.sql(catalog.oracle_sql()["pipeline_pretrain_v3"])
    cols = oracle.columns
    duck = {
        r[cols.index("split")]: (
            r[cols.index("n_final")], r[cols.index("bpe_tokens")]
        )
        for r in oracle.fetchall()
    }
    con.close()
    assert got == duck


def test_decontaminate_step_batch_stream_parity(spark, tmp_path):
    """The stored-Bloom decontaminate step is a broadcast-join gate
    (narrow against the stream side), so it runs UNCHANGED on a
    Structured-Streaming frame and keeps exactly the docs the batch
    run keeps — the suppression-list architecture live at ingest
    time: the filter artifact is read once, the stream is never
    shuffled, and Bloom's no-false-negative guarantee means a listed
    13-gram can never slip into the live corpus."""
    import json as _json

    from logprep_spark.functions import dedup as dd
    from logprep_spark.functions import sketch as sk

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta " * 5)], ["doc_id", "text"]
    )
    bloom_path = str(tmp_path / "bloom")
    sk.bloom_bits(
        dd.window_hashes(bench, 4).select("window_hash").distinct(),
        "window_hash", m=4096, j=3,
    ).write.parquet(bloom_path)

    docs = [
        {"doc_id": 1, "text": "alpha beta gamma delta echoed verbatim"},
        {"doc_id": 2, "text": "entirely unrelated clean document text"},
    ]
    p = CorpusPipeline(
        [{"op": "decontaminate", "path": bloom_path, "k": 4, "m": 4096}]
    )
    batch = p.transform(
        spark.createDataFrame(
            [(r["doc_id"], r["text"]) for r in docs], ["doc_id", "text"]
        )
    )
    assert [r["doc_id"] for r in batch.collect()] == [2]

    d = tmp_path / "stream-in"
    d.mkdir()
    (d / "b0.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in docs) + "\n"
    )
    stream = spark.readStream.schema("doc_id long, text string").json(str(d))
    q = (
        p.transform(stream)
        .writeStream.format("memory")
        .queryName("decontam_stream_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = [r["doc_id"] for r in
           spark.sql("SELECT doc_id FROM decontam_stream_out").collect()]
    assert got == [2]


def _lambda_bodies(plan: str) -> list[str]:
    """The text inside every ``lambdafunction(...)`` of a plan string."""
    out = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        i = start + len("lambdafunction(")
        depth = 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        out.append(plan[start + len("lambdafunction("):i - 1])
        start = plan.find("lambdafunction(", start + 1)
    return out


def test_decontaminate_stream_gate_splits_once(spark, tmp_path):
    """The streaming decontaminate gate tokenizes each doc ONCE: its
    optimized plan over a parquet readStream has no ``split(`` inside
    any lambda (a lambda gets no common-subexpression elimination, so
    a split there re-runs once per window)."""
    from logprep_spark.functions import dedup as dd
    from logprep_spark.functions import sketch as sk

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta " * 5)], ["doc_id", "text"]
    )
    bloom_path = str(tmp_path / "bloom")
    sk.bloom_bits(
        dd.window_hashes(bench, 4).select("window_hash").distinct(),
        "window_hash", m=4096, j=3,
    ).write.parquet(bloom_path)
    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta echoed verbatim"),
         (2, "entirely unrelated clean document text")],
        "doc_id long, text string",
    ).write.parquet(docs_path)
    stream = spark.readStream.schema("doc_id long, text string").parquet(docs_path)
    p = CorpusPipeline(
        [{"op": "decontaminate", "path": bloom_path, "k": 4, "m": 4096}]
    )
    q = (
        p.transform(stream)
        .writeStream.format("memory")
        .queryName("decontam_split_once")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    plan = q._jsq.explainInternal(True)
    optimized = plan[plan.index("== Optimized Logical Plan =="):plan.index("== Physical Plan ==")]
    bodies = _lambda_bodies(optimized)
    assert bodies and "split(" in optimized
    assert not [b for b in bodies if "split(" in b]
    got = [r["doc_id"] for r in
           spark.sql("SELECT doc_id FROM decontam_split_once").collect()]
    assert got == [2]


def test_incremental_apply_only_yaml_parity(spark, sf_dir, tmp_path):
    """The X30 factory ships the APPLY-ONLY incremental path (r12
    verdict ask #7): the gated pipeline_pretrain_incremental row
    deliberately pays a from-scratch recompute branch to prove
    apply == recompute; production users run the apply branch ALONE
    against yesterday's persisted stores. This YAML — gate ->
    exact_dedup_vs_store (fingerprints) -> neardup_vs_store (bands +
    shingles) -> in-batch near_dedup -> stored-Bloom decontaminate ->
    pointwise hash_split — must land on the SAME per-split delta
    survivor counts and token totals as the gated row's apply branch
    (n_delta_final / tok_delta), with NO recompute anywhere in the
    plan."""
    from logprep_spark.functions import dedup as dd
    from logprep_spark.functions import sketch as sk
    from logprep_spark.functions import text as tx
    from logprep_spark.plans import catalog
    from logprep_spark.session import fan_out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter("doc_id % 5 = 0")
    corpus = docs.filter("doc_id % 5 != 0")
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    cut = ids[(8 * len(ids) + 9) // 10 - 1]

    # yesterday's artifacts: the BASE pass's persisted stores
    base_g = tx.gopher_filter(corpus.filter(F.col("doc_id") <= cut),
                              min_stop_hits=1)
    base_exact = dd.exact_dedup(base_g)
    store = tmp_path / "stores"
    base_g.select(
        F.md5(F.array_join(tx.tokens(F.col("text")), " ")).alias("fp")
    ).distinct().write.parquet(str(store / "fp"))
    dd.minhash_bands(fan_out(base_exact)).select(
        F.col("doc_id").alias("hist_id"), "band_id", "band_key"
    ).write.parquet(str(store / "bands"))
    dd.shingle_arrays(base_exact).select(
        F.col("doc_id").alias("hist_id"), "sh"
    ).write.parquet(str(store / "shingles"))
    sk.bloom_bits(
        dd.window_hashes(bench, 13).select("window_hash").distinct(),
        "window_hash", m=524288, j=3,
    ).write.parquet(str(store / "bench_bloom"))

    cfg = tmp_path / "incremental.yml"
    cfg.write_text(
        f"""
text_col: text
pipeline:
  - op: filter
    where: "doc_id % 5 != 0 and doc_id > {cut}"
  - op: gopher_filter
    min_stop_hits: 1
  - op: exact_dedup_vs_store
    path: "{store / 'fp'}"
  - op: neardup_vs_store
    bands_path: "{store / 'bands'}"
    shingles_path: "{store / 'shingles'}"
    threshold_milli: 700
  - op: near_dedup
    threshold_milli: 700
  - op: decontaminate
    path: "{store / 'bench_bloom'}"
    k: 13
    m: 524288
    j: 3
  - op: hash_split
    salt: isplit
"""
    )
    out = CorpusPipeline.from_file(str(cfg)).transform(docs)
    got = {
        r["split"]: (r["n"], r["tok"])
        for r in out.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.size(tx.tokens(F.col("text"))).cast("long")).alias("tok"),
        )
        .collect()
    }
    want = {
        r["split"]: (r["n_delta_final"], r["tok_delta"])
        for r in catalog.queries()["pipeline_pretrain_incremental"](
            spark, sf_dir
        ).collect()
    }
    # empty splits appear as explicit zeros on the gated row's 3-row
    # spine; the YAML frame simply has no row — align the views
    want = {k: v for k, v in want.items() if v != (0, 0)}
    assert got == want
