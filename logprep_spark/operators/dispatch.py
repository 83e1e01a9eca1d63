"""Many-rules dispatch — the reference ``framework/rule_tree/``
re-expressed for Catalyst (r13 verdict ask #1).

Why the reference grew a rule tree (rule_tree.py:59): evaluating every
rule's filter per event dies at production rule counts — SIEM
deployments run hundreds-to-thousands of sigma rules per processor.
Its answer is a shared-predicate dispatch tree walked once per event
(``get_matching_rules``), with matching computed ONCE against the
event state at processor entry (abc/processor.py:213
``_process_rule_tree_once``), then the matching rules applied in
order.

The Spark failure mode is different and WORSE than per-row cost — it
is per-PLAN, and we measured it (tools/rule_scale_probe.py):

* ``Processor.transform`` chains staged-cond ``withColumn`` +
  ``apply_rule`` + ``drop`` per rule: ~3N plan nodes. Build/analyze
  cost is linear and survivable to hundreds of rules…
* …but any DOWNSTREAM FILTER on a rule-written column is pushed down
  through the chain by Catalyst, substituting each projection's
  expression into the predicate. A rule whose write references the
  previous value k times (array unions reference it ~3×; nested
  struct rebuilds ~8×) makes the substituted predicate grow ~k^N:
  measured 16 s at SIX labeler rules and unrunnable (>450 s) at
  eight, on 6,000 rows. Not an efficiency gap — a cliff.

The cure is structural, and it is exactly the rule tree's semantics:

1. **Match once** (:func:`stage_conditions`): compile every rule's
   filter against the INPUT frame and stage all N verdicts as one
   flat ``array<boolean>`` column — ONE projection, N independent
   expressions, no chaining. This is ``get_matching_rules`` as a
   projection; sharing of common sub-predicates across rules is
   Catalyst subexpression elimination's job (the tree's shared-prefix
   trick, done by the compiler instead of a hand-built trie).
2. **Apply flat**: per-rule contributions are expressions of the
   input + the staged verdict array only — never of each other — so
   predicate substitution bottoms out after one hop. Same-target
   rule families (labels, tags, detections) merge all contributions
   in ONE write per target (:func:`labeler_bulk`), or dispatch the
   payload through a broadcast join (:func:`pre_detector_alerts` —
   one scan + one broadcast hash join replaces the naive N-scan
   union).

Semantics scope, stated: match-once equals the sequential path
whenever no rule's filter reads a field the SAME processor writes —
the reference accepts the identical divergence between its rule-tree
path and its ``_bypass_rule_tree`` sequential path. The labeler and
pre_detector families never self-read, so their bulk paths are exact.

Scale: the staged projection is O(N) flat expressions inside
whole-stage codegen (Spark splits generated code across methods —
flat is fine, nested is fatal); the payload join broadcasts an N-row
rule table. 1000 rules is a wide-but-shallow plan: measured in
tests/unit/test_rule_dispatch.py (600 rules compile + plan in
seconds, plan nodes bounded by a constant, downstream filters safe).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logprep_spark import fields as fld
from logprep_spark.session import AppMemo

#: staged verdict-array column name
COND_COL = "__rule_conds__"

#: built-dispatch-expression memo (r14, guide §4.5 "heavyweight init
#: once" applied to the DRIVER, the compile_filter-memo precedent in
#: filters/compiler.py): building the bulk dispatch Column for a
#: 500-rule corpus costs thousands of py4j round trips (one per
#: F.when/F.lit/operator node) — seconds of pure driver latency
#: re-paid on EVERY plan construction of the same immutable corpus.
#: The built Column depends only on (rule corpus, input schema),
#: never on the DataFrame identity or its data — compiled CODE, not
#: data or results; nothing is keyed on an input path or row
#: contents.
_EXPR_MEMO = AppMemo(1024)


def _expr_memo_key(tag: str, rules, df: DataFrame):
    """Memo key for a bulk dispatch expression: application id +
    ordered rule-corpus fingerprint + input schema. ``None`` (no
    memoization) when no application id is reachable. A fingerprint
    collision would need two UNEQUAL configs with equal ``repr`` —
    impossible for the plain str/int/list dicts rules carry; objects
    with identity reprs only cause harmless misses."""
    fp = tuple(
        (r.filter, repr(r.config), repr(r.regex_fields), repr(r.sigma_fields))
        for r in rules
    )
    return _EXPR_MEMO.key(df.sparkSession, tag, fp, df.schema.json())


def _plan_hoist(rules, df: DataFrame):
    """Rule-tree shared-predicate HOIST (reference rule_tree.py:59 —
    its tree root is exactly the most selective predicate shared
    across rules): when EVERY rule's filter carries a top-level
    plain-equality conjunct on one common field, group the corpus by
    that field's value and strip the hoisted conjunct from each
    member's condition. The bulk-dispatch expressions then render as
    a lazy CASE over the field — per row, only the matching group's
    residual predicates evaluate (~N/groups instead of N; groups are
    mutually exclusive because one field cannot equal two values), the
    exact per-event saving the reference built its trie for.

    Safety gates (all conservative — any miss returns ``None`` and the
    caller keeps the flat form): only plain StringEq/IntEq conjuncts
    qualify (regex/sigma-processed equalities parse to Wildcard/Regex
    nodes and never hoist); the field must cover EVERY rule (a
    residual un-grouped rule would break the groups-are-exclusive
    string-concat argument); fewer than 2 distinct values means no
    fan-out to win.

    Returns ``(eq_cols, groups)`` where ``eq_cols`` is
    {value_repr: equality Column} and ``groups`` is
    {value_repr: [(rule_idx, residual_cond Column), ...]} in rule-index
    order, or ``None``."""
    from logprep_spark.filters import ast as fast
    from logprep_spark.filters.compiler import compile_filter
    from logprep_spark.filters.parser import parse_filter

    per_rule = []
    for r in rules:
        try:
            node = parse_filter(r.filter, r.regex_fields, r.sigma_fields)
        except Exception:
            return None
        kids = node.children if isinstance(node, fast.And) else [node]
        eqs = {
            c.key: c
            for c in kids
            if isinstance(c, (fast.StringEq, fast.IntEq))
        }
        per_rule.append((eqs, kids))
    if not per_rule:
        return None
    common = set(per_rule[0][0])
    for eqs, _ in per_rule[1:]:
        common &= set(eqs)
    if not common:
        return None

    def _exclusive(f: str) -> bool:
        # r14 ADVICE: CASE-branch exclusivity needs SCALAR equality —
        # StringEq on an ArrayType compiles to array_contains
        # (membership), so one row can satisfy two groups' values and
        # the chained F.when would drop the second group's rules. Any
        # non-scalar (or unresolvable) dtype disqualifies the field.
        from pyspark.sql import types as T

        dt = fld.field_type(df.schema, f)
        if dt is None or isinstance(
            dt, (T.ArrayType, T.MapType, T.StructType)
        ):
            return False
        # r14 ADVICE: mixed node types break exclusivity too —
        # IntEq(5) compiles to col == 5 and StringEq("5") to
        # col.cast('string') == '5', both true for the same numeric
        # row yet keyed as distinct groups ("5" vs "'5'").
        return len({type(eqs[f]) for eqs, _ in per_rule}) == 1

    common = {f for f in common if _exclusive(f)}
    if not common:
        return None
    field = max(
        sorted(common),
        key=lambda f: len({repr(eqs[f].value) for eqs, _ in per_rule}),
    )
    if len({repr(eqs[field].value) for eqs, _ in per_rule}) < 2:
        return None
    eq_cols: dict[str, Column] = {}
    groups: dict[str, list] = {}
    for i, (eqs, kids) in enumerate(per_rule):
        eq_node = eqs[field]
        key = repr(eq_node.value)
        if key not in eq_cols:
            # the equality compiles exactly as the full filter would
            # compile this conjunct (same nested-field/type handling)
            eq_cols[key] = compile_filter(eq_node, df)
        rest = [c for c in kids if c is not eq_node]
        if not rest:
            residual: fast.Node = fast.Always(True)
        elif len(rest) == 1:
            residual = rest[0]
        else:
            residual = fast.And(children=rest)
        groups.setdefault(key, []).append(
            (i, compile_filter(residual, df))
        )
    return eq_cols, groups


def _hoisted_concat_ws(hoist, payloads: dict) -> Column | None:
    """NUL-joined matched-payload string via the hoist: one CASE
    branch per group value, each branch a ``concat_ws`` over ONLY that
    group's (residual cond, payload) members — identical output to the
    flat all-rules ``concat_ws`` because groups are mutually exclusive
    and member order inside a branch keeps the global rule-index
    order. ``payloads`` maps rule idx -> literal string; returns None
    when no group has a payload-bearing member (caller's empty case).
    Unmatched group values yield NULL where the flat form yields ''
    — identical after the caller's ``nullif(_, '')``."""
    eq_cols, groups = hoist
    branch: Column | None = None
    for key, members in groups.items():
        items = [(i, c) for i, c in members if i in payloads]
        if not items:
            continue
        joined_g = F.concat_ws(
            "\x00",
            *[F.when(cond, F.lit(payloads[i])) for i, cond in items],
        )
        branch = (
            F.when(eq_cols[key], joined_g)
            if branch is None
            else branch.when(eq_cols[key], joined_g)
        )
    return branch


def _balanced_or(cols: list[Column]) -> Column:
    """Pairwise-folded OR: a left-deep N-term ``|`` chain overflows
    the JVM stack during Column-node conversion at corpus scale."""
    acc = list(cols)
    while len(acc) > 1:
        acc = [
            acc[j] | acc[j + 1] if j + 1 < len(acc) else acc[j]
            for j in range(0, len(acc), 2)
        ]
    return acc[0] if acc else F.lit(False)


def stage_conditions(
    processor, df: DataFrame, col_name: str = COND_COL
) -> DataFrame:
    """Compile every rule's filter against the INPUT frame and stage
    the N verdicts as one ``array<boolean>`` column — the reference's
    match-once ``get_matching_rules`` as a single flat projection.
    Null verdicts (missing fields) coalesce to False, the staged-cond
    convention of ``Processor.transform``."""
    conds = [
        F.coalesce(processor.condition(df, rule), F.lit(False))
        for rule in processor.rules
    ]
    return df.withColumn(col_name, F.array(*conds))


def transform_once(processor, df: DataFrame) -> DataFrame:
    """Generic match-once transform: stage all conditions in ONE
    projection, then run each rule's ``apply_rule`` against its staged
    verdict. Mirrors reference ``_process_rule_tree_once``: conditions
    see the processor-entry state, mutations apply in rule order.

    vs ``Processor.transform`` this removes the per-rule cond
    staging/drop (3 plan ops → 1) and — because every verdict is a
    bare column reference, not an expression of earlier rules'
    writes — keeps downstream predicate substitution from compounding
    through the condition logic. Rules that write the SAME field
    still chain their writes; use a family bulk path
    (:func:`labeler_bulk`, :func:`pre_detector_alerts`) for
    same-target corpora."""
    staged = stage_conditions(processor, df)
    for i, rule in enumerate(processor.rules):
        processor._current_rule = rule
        staged = processor.apply_rule(
            staged, F.col(COND_COL)[i], rule.config
        )
    return staged.drop(COND_COL)


def labeler_bulk(labeler, df: DataFrame) -> DataFrame:
    """All N labeler rules in ONE write per category — the dispatch
    path for the verdict's 1000-rule sigma deployment.

    Per category, each matched rule's (sorted) values join into ONE
    NUL-separated ``concat_ws`` string, split once into the additions
    array — an expression of the input frame and constants only, so
    the category column is written ONCE however many rules exist, and
    a downstream filter substitutes through exactly one projection.
    (r14 shape: concat_ws skips unmatched rules' null children with
    zero allocations; the original ``flatten(zip_with(payloads,
    verdicts, ...))`` ran interpreted — higher-order functions are
    CodegenFallback — and a staged verdict array is a CollapseProject
    inlining bomb; see OPTIMIZATION_r14.md.)
    Matches the sequential path bit-for-bit on non-self-reading rules
    (every label write is a sorted-distinct union — order-insensitive,
    so one merged union equals N chained unions;
    tests/unit/test_rule_dispatch.py asserts the equality witness)."""
    from pyspark.sql import types as T

    n = len(labeler.rules)
    if not n:
        return df
    # the whole bulk write is ONE Column over (rule corpus, schema) —
    # memoize it so repeated plan constructions of the same immutable
    # corpus skip the py4j expression build (guide §4.5 on the driver;
    # measured ~3.4 s per construction at 500 rules)
    memo_key = _expr_memo_key("labeler_bulk", labeler.rules, df)
    hit = _EXPR_MEMO.get(memo_key)
    if hit is not None:
        return df.withColumn("label", hit)
    # conditions compiled DIRECTLY against the input frame — the
    # match-once semantics without the staged verdict-array column:
    # a staged array<boolean> referenced once per rule index is a
    # CollapseProject bomb (the optimizer inlines the N-element
    # CreateArray into every GetArrayItem — N² expression nodes,
    # JVM-heap OOM at 600 rules once a downstream filter substitutes
    # through it). Each cond is referenced once per category its rule
    # writes (≤ a few), so the tree stays O(N).
    # r14 second pass: when the corpus HOISTS (every rule shares a
    # plain-equality conjunct on one field — the sigma-deployment
    # norm), the flat forms below render as a lazy CASE over that
    # field instead: per row only the matching group's residual
    # predicates run (~N/groups of the work; CaseWhen evaluates only
    # the taken branch), which is the reference rule tree's actual
    # per-event saving, not just its plan-size fix.
    hoist = _plan_hoist(labeler.rules, df)
    _cond_memo: dict[int, Column] = {}

    def _cond(i: int) -> Column:
        if i not in _cond_memo:
            _cond_memo[i] = F.coalesce(
                labeler.condition(df, labeler.rules[i]), F.lit(False)
            )
        return _cond_memo[i]

    staged = df
    # category -> {rule index -> sorted label values}
    cats: dict[str, dict[int, list[str]]] = {}
    for i, rule in enumerate(labeler.rules):
        for cat, values in rule.config.get("label", {}).items():
            cats.setdefault(cat, {})[i] = sorted(values)

    top_type = fld.field_type(staged.schema, "label")
    existing_struct = isinstance(top_type, T.StructType)
    base = (
        F.coalesce(F.col("label"), fld._null_struct(top_type))
        if existing_struct
        else None
    )

    values: dict[str, Column] = {}
    # "some rule with a label value matched" — OR the conds of
    # value-bearing rules directly (one pass) instead of the old
    # size(adds) > 0 per category, which re-evaluated each category's
    # whole adds tree a second and third time under interpreted eval
    val_idx = sorted(
        {
            i
            for idx_map in cats.values()
            for i, vals in idx_map.items()
            if vals
        }
    )
    # balanced OR tree (never a left-deep | chain — stack depth);
    # hoisted, the OR runs per GROUP inside a CASE branch, so a row
    # pays ~N/groups terms instead of N
    if hoist is not None:
        eq_cols, groups = hoist
        val_set = set(val_idx)
        _br: Column | None = None
        for key, members in groups.items():
            items = [c for i, c in members if i in val_set]
            if not items:
                continue
            g = _balanced_or([F.coalesce(c, F.lit(False)) for c in items])
            _br = (
                F.when(eq_cols[key], g)
                if _br is None
                else _br.when(eq_cols[key], g)
            )
        any_add = (
            F.coalesce(_br, F.lit(False)) if _br is not None else F.lit(False)
        )
    else:
        any_add = _balanced_or([_cond(i) for i in val_idx])
    empty = F.array().cast("array<string>")
    for cat, idx_map in sorted(cats.items()):
        # Matched values are collected as ONE separator-joined string
        # (``concat_ws`` skips null children natively, inside
        # whole-stage codegen, zero per-rule allocations) and split
        # once — NOT flatten(zip_with(payload, conds, ...)) (higher-
        # order functions are CodegenFallback: interpreted, boxed,
        # per-element lambda frames — the r14 bench's hottest line,
        # rules_dispatch_labels 63 s exec at sf0.1) and NOT a flat
        # concat of per-rule conditional arrays (codegen, but one
        # ArrayData allocation + copy per rule per row — still ~6 s).
        # Identical multiset: each matched rule contributes its sorted
        # values in rule order, and the sorted distinct below makes
        # element order irrelevant anyway. The NUL separator cannot
        # occur in label values (compile-time check); empty-string
        # values fall back to the allocation-per-rule form.
        flat_vals = [v for vals in idx_map.values() for v in vals]
        can_ws = all("\x00" not in v and v != "" for v in flat_vals)
        rule_items = [(i, vals) for i, vals in sorted(idx_map.items()) if vals]
        if not flat_vals:
            adds = empty
        elif can_ws:
            payloads = {i: "\x00".join(vals) for i, vals in rule_items}
            joined = (
                _hoisted_concat_ws(hoist, payloads)
                if hoist is not None
                else None
            )
            if joined is None:
                joined = F.concat_ws(
                    "\x00",
                    *[
                        F.when(_cond(i), F.lit(payloads[i]))
                        for i, _vals in rule_items
                    ],
                )
            adds = F.split(F.nullif(joined, F.lit("")), "\x00")
        else:
            adds = F.concat(
                *[
                    F.when(
                        _cond(i),
                        F.array(*[F.lit(v) for v in vals]),
                    ).otherwise(empty)
                    for i, vals in rule_items
                ]
            )
        existing = (
            base.getField(cat)
            if existing_struct and fld.has_field(top_type, cat)
            else None
        )
        # SINGLE reference to ``adds`` per value: this projection is
        # too wide for whole-stage codegen (falls back to interpreted
        # eval with no common-subexpression elimination), so every
        # reference re-evaluates the N-child concat_ws — the old
        # when(size(adds) > 0, ...) + any_add shape paid the rule
        # corpus 3x per category (measured 12 s -> ~3 s at sf0.1).
        # On the ws path adds is NULL or non-empty (split of a
        # non-empty string), never [], so the null-propagation forms
        # below are exactly the old truth table; the rare fallback
        # path (empty-able adds) keeps the old gated form.
        if can_ws and flat_vals:
            if existing is None:
                # null adds -> null value (old: size-gate -> null)
                value = F.array_sort(F.array_distinct(adds))
            else:
                # null adds -> concat null -> coalesce -> existing
                value = F.coalesce(
                    F.array_sort(
                        F.array_distinct(
                            F.concat(F.coalesce(existing, F.array()), adds)
                        )
                    ),
                    existing,
                )
        else:
            sz = F.coalesce(F.size(adds) > 0, F.lit(False))
            if existing is None:
                value = F.when(sz, F.array_sort(F.array_distinct(adds)))
            else:
                value = F.when(
                    sz,
                    F.array_sort(
                        F.array_distinct(
                            F.concat(F.coalesce(existing, F.array()), adds)
                        )
                    ),
                ).otherwise(existing)
        values[cat] = value

    # ONE write builds the whole container: chained withField over a
    # single coalesced base (one reference to col('label') however
    # many categories), mirroring fields.set_field's null model —
    # container non-null iff it was non-null or something was written
    if existing_struct:
        updated = base
        for cat, value in values.items():
            updated = updated.withField(cat, value)
        label_col = F.when(F.col("label").isNotNull() | any_add, updated)
    else:
        label_col = F.when(
            any_add,
            F.struct(*[v.alias(cat) for cat, v in values.items()]),
        )
    _EXPR_MEMO.put(memo_key, label_col)
    return staged.withColumn("label", label_col)


def pre_detector_alerts(
    pre_detector, df: DataFrame, timestamp_field: str = "@timestamp"
) -> DataFrame:
    """All N pre_detector rules' alert side-outputs in ONE scan — the
    dispatch rewrite of ``PreDetector.detections`` (whose naive form
    unions N filtered projections: N FileScans of the input, a
    1000-branch plan at SIEM rule counts).

    Shape: match once → ``explode`` the matched rule indices (events
    matching no rule vanish; an event matching k rules emits k alert
    rows, the naive union's semantics) → one BROADCAST hash join
    against the N-row rule-payload table — the rule tree as a
    dispatch TABLE, the generic_resolver/list_comparison map shape
    the verdict prescribes. Per-rule event-field copies (ip_fields /
    copy_fields_to_detection_event) become per-OUTPUT-column
    conditionals over the handful of rules that define each column —
    flat in the rule count.

    The matched-index list is built as ONE ``concat_ws`` string and
    split (r14: codegen, zero per-rule allocations — a
    concat-of-singleton-arrays form pays one ArrayData copy per rule
    per row, and a staged verdict array is a CollapseProject
    inlining bomb at N² expression nodes; same exploded rows).

    Column parity with ``detections``: same names; ``mitre`` is an
    empty array (never null) for rules without it, matching the
    naive path's ``F.array()`` literal."""
    rules = pre_detector.rules
    if not rules:
        raise ValueError("pre_detector has no rules")
    spark = df.sparkSession
    # the matched-index string is one Column over (rule corpus,
    # schema) — memoized like labeler_bulk's write (guide §4.5): the
    # N-way concat_ws build is the construction-time py4j hot spot
    memo_key = _expr_memo_key("pre_detector_ids", rules, df)
    idstr = _EXPR_MEMO.get(memo_key)
    if idstr is None:
        # hoisted CASE dispatch when the corpus shares an equality
        # field (see _plan_hoist) — per row only the matching group's
        # residual predicates evaluate; identical matched-index string
        hoist = _plan_hoist(rules, df)
        if hoist is not None:
            idstr = _hoisted_concat_ws(
                hoist, {i: str(i) for i in range(len(rules))}
            )
        else:
            conds = [
                F.coalesce(pre_detector.condition(df, rule), F.lit(False))
                for rule in rules
            ]
            idstr = F.concat_ws(
                "\x00",
                *[
                    F.when(conds[i], F.lit(str(i)))
                    for i in range(len(rules))
                ],
            )
        _EXPR_MEMO.put(memo_key, idstr)
    exploded = (
        df.withColumn(
            "_ris", F.explode(F.split(F.nullif(idstr, F.lit("")), "\x00"))
        )
        .withColumn("_ri", F.col("_ris").cast("int"))
        .drop("_ris")
    )

    payload_rows = []
    for i, rule in enumerate(rules):
        cfg = rule.config
        payload_rows.append(
            (
                i,
                str(cfg.get("id", "")),
                str(cfg.get("title", "")),
                str(cfg.get("severity", "")),
                str(cfg.get("case_condition", "directly")),
                [str(m) for m in cfg.get("mitre", [])],
                str(cfg["link"]) if cfg.get("link") else None,
            )
        )
    payload = spark.createDataFrame(
        payload_rows,
        "_ri int, rule_id string, title string, severity string,"
        " case_condition string, mitre array<string>, link string",
    )
    joined = exploded.join(F.broadcast(payload), "_ri")

    ids = [fld.get_field(joined, f) for f in pre_detector.id_fields]
    ids = [c.cast("string") for c in ids if c is not None]
    cols = [
        F.sha2(
            F.concat_ws("|", F.col("rule_id"), *ids), 256
        ).alias("pre_detection_id"),
        F.col("rule_id"),
        F.col("title"),
        F.col("severity"),
        F.col("case_condition"),
        F.col("mitre"),
    ]
    if any(r.config.get("link") for r in rules):
        cols.append(F.col("link"))
    ts = fld.get_field(joined, timestamp_field)
    if ts is not None:
        cols.append(ts.cast("string").alias("@timestamp"))
    # per-output-column source maps: det_field -> {rule idx -> source
    # Column}; each renders as a flat conditional over the few rules
    # that define it (null for the rest — unionByName semantics)
    out_fields: dict[str, dict[int, Column]] = {}
    for i, rule in enumerate(rules):
        cfg = rule.config
        for host_field in cfg.get("ip_fields", []):
            col = fld.get_field(joined, host_field)
            if col is not None:
                out_fields.setdefault(
                    host_field.replace(".", "_"), {}
                )[i] = col
        for src_field, det_field in (
            cfg.get("copy_fields_to_detection_event") or {}
        ).items():
            col = fld.get_field(joined, src_field)
            if col is not None:
                out_fields.setdefault(det_field, {})[i] = col
    for det_field, by_rule in out_fields.items():
        expr = None
        for i, col in by_rule.items():
            expr = (
                F.when(F.col("_ri") == i, col)
                if expr is None
                else expr.when(F.col("_ri") == i, col)
            )
        cols.append(expr.alias(det_field))
    return joined.select(*cols)


def transform_fixpoint(processor, df: DataFrame, max_rounds: int = 4):
    """Reference ``apply_multiple_times`` semantics
    (abc/processor.py:203 ``_process_rule_tree_multiple_times``):
    match against the CURRENT event state, apply the matching rules
    in order, then RE-match — a rule whose filter only becomes true
    after another rule's write fires in a later round — until no rule
    newly matches (each rule applies at most once per event, the
    reference's ``applied_rules`` set).

    Spark realization: the applied set is an ``array<boolean>``
    column; each round stages fresh verdicts ``cond AND NOT applied``
    in ONE flat projection (the match-once discipline per round),
    applies the newly-matching rules, folds them into the applied
    array, and localCheckpoints — the per-round lineage cut of every
    iterative operator here (dup_clusters, pagerank). Convergence is
    a bounded driver-side ANY-aggregate per round; ``max_rounds``
    caps the walk (the reference can loop forever on a rule that
    keeps re-matching — the cap is the distributed-safety addition,
    and hitting it raises so a cyclic corpus is a loud error, not a
    silent partial application).

    Returns the transformed frame."""
    n = len(processor.rules)
    if not n:
        return df
    applied_col = "__rules_applied__"
    fresh_col = "__rules_fresh__"
    out = df.withColumn(
        applied_col, F.array(*[F.lit(False)] * n)
    )
    for _ in range(max_rounds):
        conds = [
            F.coalesce(processor.condition(out, rule), F.lit(False))
            for rule in processor.rules
        ]
        out = out.withColumn(
            fresh_col,
            F.zip_with(
                F.array(*conds),
                F.col(applied_col),
                lambda c, a: c & ~a,
            ),
        )
        any_fresh = out.agg(
            F.max(F.exists(fresh_col, lambda x: x)).alias("f")
        ).first()["f"]
        if not any_fresh:
            return out.drop(applied_col, fresh_col)
        for i, rule in enumerate(processor.rules):
            processor._current_rule = rule
            out = processor.apply_rule(
                out, F.col(fresh_col)[i], rule.config
            )
        out = out.withColumn(
            applied_col,
            F.zip_with(
                F.col(applied_col), F.col(fresh_col), lambda a, f: a | f
            ),
        ).drop(fresh_col).localCheckpoint(eager=True)
    # one final match to certify convergence at the cap
    conds = [
        F.coalesce(processor.condition(out, rule), F.lit(False))
        for rule in processor.rules
    ]
    leftovers = out.withColumn(
        fresh_col,
        F.zip_with(
            F.array(*conds), F.col(applied_col), lambda c, a: c & ~a
        ),
    )
    if leftovers.agg(
        F.max(F.exists(fresh_col, lambda x: x)).alias("f")
    ).first()["f"]:
        raise RuntimeError(
            f"transform_fixpoint: rules still matching after "
            f"{max_rounds} rounds — cyclic rule corpus?"
        )
    return out.drop(applied_col)
