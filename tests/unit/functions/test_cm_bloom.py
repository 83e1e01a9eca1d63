"""Count-Min + Bloom sketches: guarantees, replicas, determinism.

CM (Cormode & Muthukrishnan 2005): est >= true always, the sketch is
cell-wise mergeable, and the whole construction is md5-deterministic
so a pure-Python replica must match BIT-exactly (the cross-engine
property the oracle gate relies on). Bloom: no false negatives ever,
the filter is position-wise mergeable, and probe verdicts match a
Python replica exactly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from logprep_spark.functions.sketch import (
    bloom_bits,
    bloom_membership,
    cm_point_estimates,
    cm_sketch,
)


def _h60(v) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


def _cm_cells(items, d, w):
    cells: dict = {}
    for it in items:
        for r in range(d):
            key = (r, _h60(f"{r}:{it}") % w)
            cells[key] = cells.get(key, 0) + 1
    return cells


def _skewed(spark):
    # zipf-ish: item i appears 200//(i+1) times over 40 items
    rows = [(f"item{i}",) for i in range(40) for _ in range(200 // (i + 1))]
    return spark.createDataFrame(rows, ["item"])


def test_cm_sketch_matches_python_replica(spark):
    d, w = 3, 32
    df = _skewed(spark)
    got = {
        (r.row, r.col): r.cnt
        for r in cm_sketch(df, "item", d=d, w=w).collect()
    }
    items = [f"item{i}" for i in range(40) for _ in range(200 // (i + 1))]
    assert got == _cm_cells(items, d, w)
    assert len(got) <= d * w


def test_cm_estimates_never_undercount(spark):
    """The CM guarantee: min over d counters >= the true count, for
    EVERY item — and is exact when no row collides."""
    d, w = 3, 32
    df = _skewed(spark)
    queries = spark.createDataFrame(
        [(f"item{i}",) for i in range(40)], ["item"]
    )
    rows = cm_point_estimates(df, "item", queries, d=d, w=w).collect()
    assert len(rows) == 40
    for r in rows:
        assert r.exact_count == 200 // (int(r.item[4:]) + 1)
        assert r.est_count >= r.exact_count
        assert r.overcount == r.est_count - r.exact_count
    # w=32 over 40 items MUST collide somewhere (pigeonhole), and a
    # probe whose cells are all clean must be exact
    assert any(r.overcount > 0 for r in rows)


def test_cm_mergeability(spark):
    """sketch(A) + sketch(B) cell-wise == sketch(A union B) — the
    property that lets per-day sketches roll up without raw data."""
    d, w = 3, 16
    a = spark.createDataFrame([(f"u{i % 7}",) for i in range(50)], ["item"])
    b = spark.createDataFrame([(f"u{i % 11}",) for i in range(80)], ["item"])
    merged = (
        cm_sketch(a, "item", d=d, w=w)
        .unionAll(cm_sketch(b, "item", d=d, w=w))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cm_sketch(a.unionAll(b), "item", d=d, w=w)
    as_map = lambda frame: {  # noqa: E731
        (r.row, r.col): r.cnt for r in frame.collect()
    }
    assert as_map(merged) == as_map(whole)


def test_cm_repartition_invariant_and_null_safe(spark):
    df = spark.createDataFrame(
        [(f"x{i % 9}",) for i in range(60)] + [(None,)], ["item"]
    )
    q = spark.createDataFrame([(f"x{i}",) for i in range(9)], ["item"])
    ref = sorted(map(tuple, cm_point_estimates(df, "item", q, 3, 16).collect()))
    got = sorted(
        map(
            tuple,
            cm_point_estimates(df.repartition(13), "item", q, 3, 16).collect(),
        )
    )
    assert ref == got
    assert sum(r[2] for r in ref) == 60  # the null row counted nowhere


def _bloom_positions(values, m, j):
    return {_h60(f"{i}:{v}") % m for v in values for i in range(j)}


def test_bloom_no_false_negatives_and_replica(spark):
    m, j = 128, 3
    build_vals = [f"k{i}" for i in range(30)]
    build = spark.createDataFrame([(v,) for v in build_vals], ["val"])
    probe_vals = [f"k{i}" for i in range(60)]  # 30 members + 30 others
    probe = spark.createDataFrame([(v,) for v in probe_vals], ["val"])

    bits = {r.pos for r in bloom_bits(build, "val", m=m, j=j).collect()}
    assert bits == _bloom_positions(build_vals, m, j)

    (row,) = bloom_membership(build, probe, "val", m=m, j=j).collect()
    assert row.n_bits_set == len(bits)
    assert row.n_probes == 60
    assert row.exact_overlap == 30
    # replica verdicts: a probe hits iff all j positions are set
    hits = sum(
        1
        for v in probe_vals
        if all(_h60(f"{i}:{v}") % m in bits for i in range(j))
    )
    assert row.n_hits == hits
    assert row.n_hits >= 30  # every member hits: no false negatives
    assert row.false_positives == hits - 30 >= 0
    assert row.fpr_milli == 1000 * (hits - 30) // 30


def test_bloom_merge_is_position_union(spark):
    """union of two filters == filter of the union — the mergeable-
    membership property (per-day suppression lists roll up)."""
    m, j = 64, 3
    a = spark.createDataFrame([(f"a{i}",) for i in range(20)], ["val"])
    b = spark.createDataFrame([(f"b{i}",) for i in range(20)], ["val"])
    merged = bloom_bits(a, "val", m, j).unionAll(
        bloom_bits(b, "val", m, j)
    ).distinct()
    whole = bloom_bits(a.unionAll(b), "val", m, j)
    assert {r.pos for r in merged.collect()} == {
        r.pos for r in whole.collect()
    }


def test_bloom_empty_build_and_repartition_invariance(spark):
    m, j = 64, 3
    empty = spark.createDataFrame([], "val string")
    probe = spark.createDataFrame([(f"p{i}",) for i in range(10)], ["val"])
    (row,) = bloom_membership(empty, probe, "val", m=m, j=j).collect()
    assert row.n_bits_set == 0
    assert row.n_hits == 0 and row.false_positives == 0
    assert row.exact_overlap == 0 and row.n_probes == 10

    build = spark.createDataFrame([(f"p{i}",) for i in range(5)], ["val"])
    ref = bloom_membership(build, probe, "val", m=m, j=j).collect()
    got = bloom_membership(
        build.repartition(7), probe.repartition(5), "val", m=m, j=j
    ).collect()
    assert ref == got


def test_bloom_suppress_never_leaks_members(spark):
    """The suppression gate's load-bearing guarantee: a key in the
    filter NEVER survives (no false negatives); the collateral is
    only ever innocent keys, and exactly the replica-predicted ones;
    NULL keys pass untouched; keep_hits inverts the gate."""
    from logprep_spark.functions.sketch import bloom_suppress

    m, j = 64, 3
    members = [f"m{i}" for i in range(25)]
    others = [f"o{i}" for i in range(25)]
    build = spark.createDataFrame([(v,) for v in members], ["key"])
    bits = bloom_bits(build, "key", m=m, j=j)
    corpus = spark.createDataFrame(
        [(v, len(v)) for v in members + others] + [(None, -1)],
        ["key", "payload"],
    )

    kept = bloom_suppress(corpus, bits, "key", m=m, j=j).collect()
    kept_keys = {r.key for r in kept}
    assert not kept_keys & set(members)  # no member ever leaks
    assert None in {r.key for r in kept}  # NULL passes a suppression gate
    # exactly the replica's survivors: v kept iff some position unset
    bitset = _bloom_positions(members, m, j)
    want = {
        v
        for v in others
        if not all(_h60(f"{i}:{v}") % m in bitset for i in range(j))
    }
    assert kept_keys == want | {None}
    # other columns intact, no helper columns leak
    assert sorted(kept[0].asDict()) == ["key", "payload"]
    assert all(r.payload == len(r.key) for r in kept if r.key is not None)

    hits = bloom_suppress(
        corpus, bits, "key", m=m, j=j, keep_hits=True
    ).collect()
    # inversion partitions the non-null rows exactly
    assert {r.key for r in hits} == (set(members) | set(others)) - (
        kept_keys - {None}
    )
    assert len(hits) + len(kept) == 51


def test_bloom_suppress_repartition_invariant_and_broadcast(spark):
    from logprep_spark.functions.sketch import bloom_suppress

    build = spark.createDataFrame([(f"k{i}",) for i in range(10)], ["key"])
    bits = bloom_bits(build, "key", m=64, j=3)
    corpus = spark.createDataFrame(
        [(f"k{i}",) for i in range(30)], ["key"]
    )
    ref = sorted(r.key for r in bloom_suppress(corpus, bits, "key", 64, 3).collect())
    got = sorted(
        r.key
        for r in bloom_suppress(
            corpus.repartition(7), bits.repartition(3), "key", 64, 3
        ).collect()
    )
    assert ref == got
    # the gate is broadcast joins only: the corpus side never shuffles
    plan = bloom_suppress(corpus, bits, "key", 64, 3)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cm_and_bloom_probe_from_stored_frames(spark, tmp_path):
    """The sketch= / bits= injection seams: point estimates and
    membership verdicts computed against a parquet-round-tripped
    sketch are bit-identical to the live build — the stored-row
    catalog queries ride exactly this path."""
    build = spark.createDataFrame(
        [(f"u{i % 40}",) for i in range(400)], ["val"]
    )
    queries = spark.createDataFrame([(f"u{i}",) for i in range(5)], ["val"])
    live_sketch = cm_sketch(build, "val", d=3, w=32)
    p = str(tmp_path / "cm")
    live_sketch.write.parquet(p)
    est_live = cm_point_estimates(build, "val", queries, d=3, w=32).collect()
    est_stored = cm_point_estimates(
        build, "val", queries, d=3, w=32, sketch=spark.read.parquet(p)
    ).collect()
    assert sorted(map(tuple, est_stored)) == sorted(map(tuple, est_live))

    probe = spark.createDataFrame(
        [(f"u{i}",) for i in range(30, 60)], ["val"]
    )
    bits = bloom_bits(build, "val", m=128, j=3)
    bp = str(tmp_path / "bloom")
    bits.write.parquet(bp)
    (live,) = bloom_membership(build, probe, "val", m=128, j=3).collect()
    (stored,) = bloom_membership(
        build, probe, "val", m=128, j=3,
        bits=spark.read.parquet(bp),
    ).collect()
    assert tuple(stored) == tuple(live)


def test_stored_sketch_roundtrip_drives_the_algebra(spark, tmp_path):
    """The stored-artifact claim, end to end: theta/CM/Bloom sketch
    rows written to parquet and read back drive the set/frequency
    algebra identically to the in-memory frames — the 100 TB workflow
    is build-once, store, query-many."""
    from logprep_spark.functions.sketch import (
        _H_MAX_LONG,
        theta_sketch_slices,
    )

    # theta: per-slice sketches -> parquet -> union math from disk
    rows = [(s, f"u{v}") for s in ("a", "b") for v in range(300)]
    df = spark.createDataFrame(rows, ["slice", "val"])
    sk = theta_sketch_slices(df, "slice", "val", k=32)
    p = str(tmp_path / "theta")
    sk.write.parquet(p)
    stored = spark.read.parquet(p)
    assert sorted(map(tuple, stored.collect())) == sorted(
        map(tuple, sk.collect())
    )
    # union from stored rows equals union from live rows
    import pyspark.sql.functions as F

    def union_est(frame):
        (r,) = (
            frame.agg(
                F.min("_theta").alias("t"),
                F.flatten(F.collect_list("_sample")).alias("pool"),
            )
            .select(
                F.size(
                    F.array_distinct(
                        F.filter("pool", lambda x: x < F.col("t"))
                    )
                ).alias("n"),
                "t",
            )
            .collect()
        )
        return (r.n, r.t)

    assert union_est(stored) == union_est(sk)
    assert union_est(stored)[1] < _H_MAX_LONG

    # CM: cells -> parquet -> point estimate from disk
    items = spark.createDataFrame(
        [(f"i{n % 6}",) for n in range(90)], ["item"]
    )
    cm = cm_sketch(items, "item", d=3, w=16)
    pc = str(tmp_path / "cm")
    cm.write.parquet(pc)
    q = spark.createDataFrame([("i0",)], ["item"])
    live = cm_point_estimates(items, "item", q, 3, 16).collect()
    # estimates read from the STORED sketch: rebuild via the stored
    # frame joined the same way (reuse the function's probe shape by
    # summing stored cells cell-wise into an equality check)
    assert sorted(map(tuple, spark.read.parquet(pc).collect())) == sorted(
        map(tuple, cm.collect())
    )
    assert live[0].est_count >= live[0].exact_count == 15

    # bloom: position rows -> parquet -> probe from disk
    bb = bloom_bits(items, "item", m=64, j=3)
    pb = str(tmp_path / "bloom")
    bb.write.parquet(pb)
    assert {r.pos for r in spark.read.parquet(pb).collect()} == {
        r.pos for r in bb.collect()
    }


def test_position_and_cell_hashes_match_replica(spark):
    """bloom_positions / cm_cells — the one hash every build, probe
    and stream twin shares — equal the md5 replica for any value type,
    and a CM cell is the Bloom position salted by its row."""
    from logprep_spark.functions.sketch import bloom_positions, cm_cells

    df = spark.createDataFrame([("a",), ("user7",), ("",)], ["v"])
    m, j = 97, 4
    got = {
        r.v: (list(r.p), list(r.c))
        for r in df.select(
            "v",
            F.array(*bloom_positions(F.col("v"), m, j)).alias("p"),
            F.array(*cm_cells(F.col("v"), j, m)).alias("c"),
        ).collect()
    }
    for v, (pos, cells) in got.items():
        assert pos == [_h60(f"{i}:{v}") % m for i in range(j)]
        assert cells == pos
    # a non-string column hashes its string form
    n = spark.range(3).select(F.array(*bloom_positions(F.col("id"), m, 1)).alias("p"))
    assert [r.p[0] for r in n.collect()] == [_h60(f"0:{i}") % m for i in range(3)]
