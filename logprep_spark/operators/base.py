"""Processor framework: rule-gated DataFrame transforms.

Reference model (``/root/reference/logprep/abc/processor.py``): a
processor holds rules; each rule = Lucene filter + config; matching
events are mutated in place, non-matching pass through untouched.

Spark realization: each rule compiles to one Catalyst predicate
``cond``; every field write is ``F.when(cond, new).otherwise(old)``.
A whole pipeline of processors therefore collapses into a single
narrow projection over the scan — no shuffle, no Python in the row
path, fully inside whole-stage codegen, and filters on the first
processors push down to the parquet scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logprep_spark import fields as fld
from logprep_spark.filters import compile_filter


def _special_fields(value) -> list[str] | bool:
    return True if value is True else list(value or [])


@dataclass
class Rule:
    """One rule: filter string + processor-specific config dict."""

    filter: str
    config: dict[str, Any]
    # reference semantics: a list of dotted fields, or True = all
    # fields (lucene_filter.py:646 ``sf_value is True or field in sf_value``)
    regex_fields: list[str] | bool = field(default_factory=list)
    sigma_fields: list[str] | bool = field(default_factory=list)
    # reference base/rule.py:187 — tags appended when the rule's
    # transformation fails on an event; empty -> _<type>_failure
    tag_on_failure: list[str] = field(default_factory=list)

    @classmethod
    def from_dict(cls, rule_type: str, raw: dict) -> "Rule":
        return cls(
            filter=raw.get("filter", "*"),
            config=dict(raw.get(rule_type, {})),
            regex_fields=_special_fields(raw.get("regex_fields", [])),
            sigma_fields=_special_fields(raw.get("sigma_fields", [])),
            tag_on_failure=list(raw.get("tag_on_failure", []) or []),
        )


class Processor:
    """Base class. Subclasses set ``rule_type`` and implement
    ``apply_rule(df, cond, cfg) -> DataFrame``."""

    rule_type: str = ""

    def __init__(self, rules: list[dict] | None = None, **processor_config):
        self.rules = [Rule.from_dict(self.rule_type, r) for r in (rules or [])]
        self.processor_config = processor_config

    def condition(self, df: DataFrame, rule: Rule) -> Column:
        return compile_filter(rule.filter, df, rule.regex_fields, rule.sigma_fields)

    _COND = "__logprep_cond__"

    def transform(self, df: DataFrame) -> DataFrame:
        for rule in self.rules:
            cond = self.condition(df, rule)
            # Stage the match decision in a column BEFORE any mutation:
            # a rule that rewrites a field its own filter references
            # (delete_source_fields, move) must not see its own writes —
            # Column expressions re-resolve by name against the mutated
            # frame, so an unstaged cond would flip mid-rule.
            df = df.withColumn(self._COND, F.coalesce(cond, F.lit(False)))
            self._current_rule = rule
            df = self.apply_rule(df, F.col(self._COND), rule.config)
            df = df.drop(self._COND)
        return df

    def tag_failure(self, df: DataFrame, failure_cond: Column) -> DataFrame:
        """Append the active rule's ``tag_on_failure`` tags (default
        ``_<type>_failure``, reference base/rule.py:282) where the
        transformation failed — still a narrow column rewrite."""
        rule = getattr(self, "_current_rule", None)
        tags = (rule.tag_on_failure if rule else None) or [f"_{self.rule_type}_failure"]
        return self.add_tag_when(df, F.coalesce(failure_cond, F.lit(False)), tags)

    def apply_rule(self, df: DataFrame, cond: Column, cfg: dict) -> DataFrame:
        raise NotImplementedError

    def written_roots(self) -> list[str] | None:
        """Dotted roots the rules write or delete — ``tags`` too for a
        family that calls :meth:`tag_failure` — or ``None`` when the
        family does not declare them. :class:`Pipeline` matches a
        multi-rule processor once only when this is declared."""
        return None

    # --- shared write helpers -------------------------------------------

    @staticmethod
    def set_when(
        df: DataFrame, path: str, cond: Column, value: Column, overwrite: bool = True
    ) -> DataFrame:
        """Write ``value`` at ``path`` only where ``cond`` holds;
        elsewhere keep the existing value (or null for a new field)."""
        existing = fld.get_field(df, path)
        if existing is None:
            out = F.when(cond, value)
        elif not overwrite:
            # single reference to `existing` (vs when(cond & isNull,
            # value).otherwise(existing)): a downstream filter pushed
            # through a chain of same-column writes substitutes the
            # prior expression at EVERY reference, so reference count
            # is the base of an exponential (operators/dispatch.py) —
            # coalesce keeps identical semantics at one reference
            out = F.coalesce(existing, F.when(cond, value))
        else:
            out = F.when(cond, value).otherwise(existing)
        return fld.set_field(df, path, out)

    @staticmethod
    def delete_when(df: DataFrame, path: str, cond: Column) -> DataFrame:
        """Null out ``path`` where ``cond`` holds (conditional delete —
        null is the absent-field representation; see fields.set_field)."""
        existing = fld.get_field(df, path)
        if existing is None:
            return df
        return fld.set_field(
            df, path, F.when(~F.coalesce(cond, F.lit(False)), existing)
        )

    @staticmethod
    def add_tag_when(df: DataFrame, cond: Column, tags: list[str], path: str = "tags") -> DataFrame:
        """Union string tags into an array field where cond holds —
        reference's ``tags`` convention on processor failure/info."""
        existing = fld.get_field(df, path)
        new = F.array(*[F.lit(t) for t in tags])
        if existing is None:
            merged = F.when(cond, new)
        else:
            merged = F.when(
                cond, F.array_distinct(F.concat(F.coalesce(existing, F.array()), new))
            ).otherwise(existing)
        return fld.set_field(df, path, merged)


class Pipeline:
    """Ordered processor composition — the reference's
    ``framework/pipeline.py`` re-expressed as one logical plan.

    ``transform`` chains every processor's column rewrites lazily;
    Catalyst fuses them into a single projection, so N processors
    cost one pass over the data regardless of N.

    Rule path per processor. Match-once (operators/dispatch.py, the
    reference framework/rule_tree analog and the reference's default)
    compiles every rule's filter against the processor-entry state and
    applies the matching rules in order: the family bulk transform when
    the processor ships one (``transform_bulk``, the labeler's one-write
    union), else the generic ``transform_once``. It is the default
    wherever it provably equals the per-rule chain, that is when

    * the processor keeps ``Processor.transform`` (Deleter, Dropper,
      PreDetector and TemplateReplacer run their own);
    * it has two or more rules (one rule is already match-once: the
      chain stages its condition before the write);
    * it declares the roots its rules write (``written_roots``; today
      the labeler) and no rule filter reads a field at, above or below
      one of them (``dispatch.reads_own_writes``).

    Every other processor runs the per-rule chain. The route is chosen
    once per processor, when the pipeline is built. ``dispatch=True``
    (the config's ``rule_dispatch: true``) asks for the reference's
    rule-tree semantics everywhere: self-reading processors and those
    with an undeclared write set then match once as well, so a rule's
    filter sees the processor-entry state, not an earlier rule's write.
    """

    def __init__(self, processors: list[Processor], dispatch: bool = False):
        self.processors = processors
        self.dispatch = dispatch
        self._paths = [self._rule_path(proc) for proc in processors]

    def _rule_path(self, proc: Processor) -> Callable[[DataFrame], DataFrame]:
        """The transform ``proc`` runs in this pipeline (see the class
        docstring)."""
        from logprep_spark.operators import dispatch as dsp

        if len(proc.rules) < 2 or type(proc).transform is not Processor.transform:
            return proc.transform
        if not self.dispatch and dsp.reads_own_writes(proc) is not False:
            return proc.transform
        bulk = getattr(proc, "transform_bulk", None)
        return bulk if bulk is not None else partial(dsp.transform_once, proc)

    def transform(self, df: DataFrame) -> DataFrame:
        for path in self._paths:
            df = path(df)
        return df

    @staticmethod
    def failed_condition(df: DataFrame, tags_field: str = "tags") -> Column:
        """True where any processor attached a ``_*_failure`` tag."""
        tags = fld.get_field(df, tags_field)
        if tags is None:
            return F.lit(False)
        return F.exists(
            F.coalesce(tags, F.array()), lambda t: t.rlike(r"^_.*_failure$")
        )

    def split_failed(self, df: DataFrame, tags_field: str = "tags"):
        """Dead-letter routing (reference pipeline error output: events
        a processor failed on go to the error topic, clean events to
        the main output): returns ``(ok_df, failed_df)`` split on
        failure tags. Both frames derive from ONE transformed plan —
        persist the input when both sides are consumed to avoid a
        double pass."""
        out = self.transform(df)
        failed = self.failed_condition(out, tags_field)
        return out.filter(~failed), out.filter(failed)
