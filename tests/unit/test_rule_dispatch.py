"""Many-rules dispatch (operators/dispatch.py — the reference
framework/rule_tree re-expression, r13 verdict ask #1).

The measured disease (tools/rule_scale_probe.py): the sequential
per-rule chain is linear to BUILD but a downstream filter on a
rule-written column substitutes through it exponentially — a 6-rule
labeler took 16 s to run ``where(label is not null)`` on 6,000 rows
and 8 rules never finished. These tests pin the cure:

* equality witnesses — bulk == sequential on non-self-reading rule
  corpora (the reference's own rule-tree-vs-bypass semantics scope);
* the scale bound — 600 rules compile and plan in bounded time with
  a CONSTANT plan-node ceiling, and the killer downstream filter
  runs;
* plan shape — one scan + one broadcast join for the alert dispatch
  table, vs one scan PER RULE in the naive union.
"""

import time

from pyspark.sql import functions as F

from logprep_spark.operators import Labeler, PreDetector
from logprep_spark.operators.dispatch import (
    COND_COL,
    stage_conditions,
    transform_once,
)

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _label_rules(n):
    rules = []
    for i in range(n):
        et = EVENT_TYPES[i % len(EVENT_TYPES)]
        lo = (i * 37) % 900
        rules.append(
            {
                "filter": f"event_type:{et} AND user_id:[{lo} TO {lo + 80}]",
                "labeler": {
                    "label": {
                        "action": [f"L{i:04d}"],
                        # every 3rd rule also writes a second category
                        **({"origin": [f"O{i % 7}"]} if i % 3 == 0 else {}),
                    }
                },
            }
        )
    return rules


def _events(spark, n=400):
    rows = [
        (i, EVENT_TYPES[i % len(EVENT_TYPES)], (i * 13) % 1000)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long"
    )


def _collect_sorted(df):
    cols = sorted(df.columns)
    rows = [
        tuple(
            tuple(v) if isinstance(v, list) else v
            for v in (r[c] for c in cols)
        )
        for r in df.collect()
    ]
    return cols, sorted(rows, key=repr)


def test_stage_conditions_one_flat_projection(spark):
    proc = Labeler(rules=_label_rules(24))
    staged = stage_conditions(proc, _events(spark))
    row = staged.select(F.size(COND_COL).alias("n")).first()
    assert row["n"] == 24
    # all verdicts stage in ONE projection over the input: the
    # analyzed plan gains no per-rule operators
    assert staged._jdf.queryExecution().analyzed().toString().count(
        "Project"
    ) <= 2


def test_labeler_bulk_equals_sequential(spark):
    rules = _label_rules(24)
    ev = _events(spark)
    seq = Labeler(rules=rules).transform(ev)
    bulk = Labeler(rules=rules).transform_bulk(ev)
    assert _collect_sorted(seq) == _collect_sorted(bulk)


def test_labeler_bulk_equals_sequential_with_existing_labels(spark):
    # pre-existing label struct with an untouched category and
    # pre-seeded values in a written one: union + null-container
    # semantics must match the sequential path exactly
    rules = _label_rules(15)
    ev = _events(spark, 120).withColumn(
        "label",
        F.when(
            F.col("event_id") % 3 == 0,
            F.struct(
                F.array(F.lit("L9999")).alias("action"),
                F.lit(None).cast("array<string>").alias("origin"),
                F.array(F.lit("keep")).alias("legacy"),
            ),
        ),
    )
    seq = Labeler(rules=rules).transform(ev)
    bulk = Labeler(rules=rules).transform_bulk(ev)
    assert _collect_sorted(seq) == _collect_sorted(bulk)
    # untouched category survives the single-write rebuild
    kept = bulk.where("label.legacy is not null").count()
    assert kept == bulk.where("event_id % 3 = 0 and label is not null").count()


def test_labeler_bulk_600_rules_bounded_plan_and_filter(spark):
    """The r13 verdict's done-bar: >=500 rules, bounded compile time,
    a plan-size ceiling — plus the killer case the naive chain dies
    on (downstream filter on the written column) actually running."""
    rules = _label_rules(600)
    ev = _events(spark, 1000)
    t0 = time.perf_counter()
    out = Labeler(rules=rules).transform_bulk(ev)
    out._jdf.queryExecution().executedPlan()
    compile_s = time.perf_counter() - t0
    # build = 600 filter parses + Column constructions (linear,
    # ~20 ms/rule measured); the ceiling is generous for CI noise
    assert compile_s < 90, f"600-rule compile took {compile_s:.1f}s"
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_nodes = len([l for l in plan.split("\n") if l.strip()])
    assert n_nodes <= 12, f"plan grew with rule count: {n_nodes} nodes"
    # the exponential-pushdown witness: this filter is unrunnable at
    # EIGHT rules on the sequential chain; on the dispatch path it is
    # a one-hop substitution
    t0 = time.perf_counter()
    labeled = out.where("label is not null").count()
    run_s = time.perf_counter() - t0
    assert labeled > 0
    assert run_s < 60, f"downstream filter took {run_s:.1f}s"


def _detector_rules(n):
    rules = []
    for i in range(n):
        et = EVENT_TYPES[i % len(EVENT_TYPES)]
        cfg = {
            "id": f"rule-{i:03d}",
            "title": f"T{i}",
            "severity": ["low", "mid", "high"][i % 3],
            "mitre": [f"attack.t{1000 + i}"] if i % 2 == 0 else [],
        }
        if i % 4 == 0:
            cfg["link"] = f"https://cases.example/{i}"
        if i % 5 == 0:
            cfg["copy_fields_to_detection_event"] = {"user_id": "host_user"}
        rules.append(
            {
                "filter": f"event_type:{et} AND user_id:[{(i * 53) % 800} TO {(i * 53) % 800 + 120}]",
                "pre_detector": cfg,
            }
        )
    return rules


def test_pre_detector_bulk_equals_naive(spark):
    rules = _detector_rules(20)
    ev = _events(spark, 300).withColumn(
        "@timestamp", F.lit("2024-01-01T00:00:00")
    )
    det = PreDetector(rules=rules, id_fields=["event_id"])
    naive = det.detections(ev)
    bulk = det.detections_bulk(ev)
    assert _collect_sorted(naive) == _collect_sorted(bulk)


def test_pre_detector_bulk_single_scan(spark):
    rules = _detector_rules(40)
    ev = _events(spark, 100)
    det = PreDetector(rules=rules, id_fields=["event_id"])
    naive_plan = det.detections(ev)._jdf.queryExecution().executedPlan().toString()
    bulk_plan = det.detections_bulk(ev)._jdf.queryExecution().executedPlan().toString()
    def scans(plan):
        return len(
            [
                l
                for l in plan.splitlines()
                if "LocalTableScan" in l or "Scan ExistingRDD" in l
            ]
        )

    # the naive union scans the input once PER RULE; dispatch scans once
    assert scans(naive_plan) >= 40
    # bulk: one event scan + one broadcast rule table
    assert scans(bulk_plan) <= 2
    assert "BroadcastHashJoin" in bulk_plan
    assert "CartesianProduct" not in bulk_plan


def test_transform_once_matches_sequential_non_selfreading(spark):
    # generic match-once path on a non-self-reading corpus: identical
    # to the sequential chain (the reference's rule-tree vs bypass
    # equivalence scope)
    rules = _label_rules(10)
    ev = _events(spark, 150)
    seq = Labeler(rules=rules).transform(ev)
    once = transform_once(Labeler(rules=rules), ev)
    assert _collect_sorted(seq) == _collect_sorted(once)


def test_set_when_no_overwrite_single_reference_semantics(spark):
    from logprep_spark.operators.base import Processor

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", "keep"), (3, "c", None)],
        "id long, src string, dst string",
    )
    out = Processor.set_when(
        df, "dst", F.col("id") != 3, F.col("src"), overwrite=False
    )
    rows = {r["id"]: r["dst"] for r in out.collect()}
    # null + cond -> written; existing -> kept; null + !cond -> null
    assert rows == {1: "a", 2: "keep", 3: None}


def test_lint_chain_fires_on_naive_silent_on_bulk(spark):
    from logprep_spark.plans.lint import lint_chains

    rules = _label_rules(10)
    ev = _events(spark, 50)
    naive = Labeler(rules=rules).transform(ev)
    bulk = Labeler(rules=rules).transform_bulk(ev)
    naive_findings = lint_chains(naive)
    assert [f.code for f in naive_findings] == ["self-referential-chain"]
    assert "label" in naive_findings[0].message
    assert lint_chains(bulk) == []


def test_transform_fixpoint_matches_reference_semantics(spark):
    """Reference apply_multiple_times (abc/processor.py:203): a rule
    whose filter only becomes true after ANOTHER rule's write fires
    in a later round. Rules deliberately ordered so the sequential
    single pass MISSES the chained match (the trigger rule runs
    first, its enabler second) while the fixpoint catches it."""
    from logprep_spark.operators.dispatch import transform_fixpoint

    rules = [
        # fires only once label.action contains SEED — round 2
        {
            "filter": "label.action:SEED",
            "labeler": {"label": {"action": ["CHAINED"]}},
        },
        # fires on raw input — round 1
        {
            "filter": "event_type:error",
            "labeler": {"label": {"action": ["SEED"]}},
        },
    ]
    ev = _events(spark, 30)
    proc = Labeler(rules=rules)
    fixed = transform_fixpoint(proc, ev, max_rounds=4)
    got = {
        r["event_id"]: (r["label"]["action"] if r["label"] else None)
        for r in fixed.collect()
    }
    for eid, labels in got.items():
        if eid % len(EVENT_TYPES) == 4:  # event_type == 'error'
            assert labels == ["CHAINED", "SEED"]
        else:
            assert labels is None
    # the sequential single pass misses the chained rule (rule order
    # puts the dependent rule first) — the fixpoint's reason to exist
    seq = Labeler(rules=rules).transform(ev)
    seq_got = {
        r["event_id"]: (r["label"]["action"] if r["label"] else None)
        for r in seq.collect()
    }
    assert all(
        l in (None, ["SEED"]) for l in seq_got.values()
    )


def test_transform_fixpoint_raises_at_round_cap(spark):
    from logprep_spark.operators.dispatch import transform_fixpoint
    import pytest

    # each round's write enables the next rule; cap of 1 cannot close
    rules = [
        {"filter": "event_type:error", "labeler": {"label": {"action": ["A"]}}},
        {"filter": "label.action:A", "labeler": {"label": {"action": ["B"]}}},
        {"filter": "label.action:B", "labeler": {"label": {"action": ["C"]}}},
    ]
    ev = _events(spark, 20)
    with pytest.raises(RuntimeError, match="still matching"):
        transform_fixpoint(Labeler(rules=rules), ev, max_rounds=1)
    # and a sufficient cap converges: A, B, C all land
    out = transform_fixpoint(Labeler(rules=rules), ev, max_rounds=4)
    row = [
        r for r in out.collect() if r["event_id"] % len(EVENT_TYPES) == 4
    ][0]
    assert row["label"]["action"] == ["A", "B", "C"]


def test_pipeline_dispatch_flag(spark):
    from logprep_spark.operators.base import Pipeline

    rules = _label_rules(12)
    ev = _events(spark, 100)
    plain = Pipeline([Labeler(rules=rules)]).transform(ev)
    routed = Pipeline([Labeler(rules=rules)], dispatch=True).transform(ev)
    assert _collect_sorted(plain) == _collect_sorted(routed)


def test_hoist_refuses_array_typed_field(spark):
    """r14 ADVICE (high): StringEq on an ArrayType field compiles to
    array_contains — MEMBERSHIP, not equality — so hoisted groups are
    not mutually exclusive (one row's array can hold two groups'
    values) and a CASE dispatch would keep only the first branch.
    The hoist must refuse; bulk must still equal sequential."""
    from logprep_spark.operators.dispatch import _plan_hoist

    rules = [
        {
            "filter": f"tags:g{i % 2} AND user_id:[0 TO 500]",
            "labeler": {"label": {"action": [f"A{i}"]}},
        }
        for i in range(4)
    ]
    ev = spark.createDataFrame(
        [
            # row 0's tags hold BOTH group values — the exclusivity
            # breaker: a hoisted CASE would drop the g1 rules' labels
            (0, ["g0", "g1"], 10),
            (1, ["g1"], 20),
            (2, ["g0"], 30),
            (3, ["zz"], 40),
        ],
        "event_id long, tags array<string>, user_id long",
    )
    proc = Labeler(rules=rules)
    assert _plan_hoist(proc.rules, ev) is None
    seq = Labeler(rules=rules).transform(ev)
    bulk = Labeler(rules=rules).transform_bulk(ev)
    assert _collect_sorted(seq) == _collect_sorted(bulk)
    both = bulk.where("event_id = 0").first()["label"]["action"]
    assert set(both) == {"A0", "A1", "A2", "A3"}


def test_hoist_refuses_mixed_node_types(spark):
    """r14 ADVICE (medium): IntEq(5) compiles to col == 5 and
    StringEq("5") to col.cast('string') == '5' — both true for the
    same numeric row but keyed as distinct groups, so the CASE would
    drop the second group's rules. Mixed node types must not hoist."""
    from logprep_spark.operators.dispatch import _plan_hoist

    rules = [
        {
            "filter": 'user_id:"5"',
            "labeler": {"label": {"action": ["S5"]}},
        },
        {
            "filter": "user_id:5",
            "labeler": {"label": {"action": ["I5"]}},
        },
        {
            "filter": 'user_id:"7"',
            "labeler": {"label": {"action": ["S7"]}},
        },
    ]
    ev = spark.createDataFrame(
        [(0, 5), (1, 7), (2, 9)], "event_id long, user_id long"
    )
    proc = Labeler(rules=rules)
    assert _plan_hoist(proc.rules, ev) is None
    seq = Labeler(rules=rules).transform(ev)
    bulk = Labeler(rules=rules).transform_bulk(ev)
    assert _collect_sorted(seq) == _collect_sorted(bulk)
    r0 = bulk.where("event_id = 0").first()["label"]["action"]
    assert set(r0) == {"S5", "I5"}
