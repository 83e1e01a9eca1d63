"""Labeler — attach categorized labels to matching events.

Reference: /root/reference/logprep/processor/labeler/processor.py
(rule ``label: {category: [values]}``; labels union into
``label.<category>`` sorted). Realized as conditional array unions.

Schema parity (reference labeling_schema.py:33 ``LabelingSchema``,
processor.py:94 ``setup``): rules are validated against a label
ontology at CONSTRUCTION time — an unknown category or label raises
before any Spark job runs — and with ``include_parent_labels=True``
every rule label is expanded with its ancestors from the schema, so
events become searchable by higher-level labels. Both are pure
driver-side rule rewrites: the per-event plan stays the same narrow
conditional-array-union projection.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logprep_spark import fields as fld
from logprep_spark.operators.base import Processor


class LabelingSchemaError(Exception):
    """Invalid schema document or rule/schema mismatch."""


class KeyDoesnotExistInSchemaError(LabelingSchemaError):
    """Rule uses a category the schema does not define."""

    def __init__(self, key: str):
        super().__init__(f"Invalid key '{key}'.")


class ValueDoesnotExistInSchemaError(LabelingSchemaError):
    """Rule uses a label the schema does not define for the category."""

    def __init__(self, key: str, value: str):
        super().__init__(f"Invalid value '{value}' for key '{key}'.")


def _resolve_refs(node, root):
    """Minimal local JSON-reference resolution (the reference loads
    schema files through jsonref): ``{"$ref": "#/a/b"}`` nodes are
    replaced by the pointed-to subtree. Remote refs are unsupported."""
    if isinstance(node, dict):
        if set(node) == {"$ref"}:
            ref = node["$ref"]
            if not ref.startswith("#/"):
                raise LabelingSchemaError(f"unsupported $ref '{ref}'")
            target = root
            for part in ref[2:].split("/"):
                if not isinstance(target, dict) or part not in target:
                    raise LabelingSchemaError(f"unresolvable $ref '{ref}'")
                target = target[part]
            return _resolve_refs(target, root)
        return {k: _resolve_refs(v, root) for k, v in node.items()}
    if isinstance(node, list):
        return [_resolve_refs(v, root) for v in node]
    return node


class LabelingSchema:
    """Label ontology: categories -> trees of labels, where a node is
    a LABEL iff it carries a string ``description``. Mirrors reference
    labeling_schema.py:70-175 (ingest_schema/_extract_labels/
    _extract_parents/validate_labels/get_parent_labels) including its
    validation failures and the duplicate-label check."""

    def __init__(self):
        self._labels: dict[str, list[str]] = {}
        self._parents: dict[str, dict[str, list[str]]] = {}

    @classmethod
    def from_dict(cls, schema: dict) -> "LabelingSchema":
        if not schema or not isinstance(schema, dict):
            raise LabelingSchemaError("Not a valid schema document")
        schema = _resolve_refs(schema, schema)
        out = cls()
        for name, category in schema.items():
            if name == "REFERENCES":  # shared subtree pool for $ref
                continue
            out._ingest_category(name, category)
        return out

    @classmethod
    def from_file(cls, path: str) -> "LabelingSchema":
        try:
            with open(path) as fh:
                return cls.from_dict(json.load(fh))
        except (OSError, json.JSONDecodeError) as err:
            raise LabelingSchemaError(f"Not a valid schema file: {err}: '{path}'") from err

    # --- ingestion ---------------------------------------------------

    @staticmethod
    def _is_description(key: str, value) -> bool:
        return key == "description" and isinstance(value, str)

    @classmethod
    def _has_description(cls, node: dict) -> bool:
        return cls._is_description("description", node.get("description"))

    def _ingest_category(self, name: str, category) -> None:
        if not isinstance(category, dict) or not isinstance(category.get("category"), str):
            raise LabelingSchemaError(
                f"Category '{name}' does not have a valid description"
            )
        if isinstance(category.get("description"), str):
            raise LabelingSchemaError(f"Category '{name}' must not have a description field")
        tree = {k: v for k, v in category.items() if k != "category"}
        for key, sub in tree.items():
            self._verify_label_tree(key, sub)
        self._labels[name] = self._extract_labels(tree)
        self._parents[name] = self._extract_parents([], tree)
        dupes = {l for l in self._labels[name] if self._labels[name].count(l) > 1}
        if dupes:
            raise LabelingSchemaError(
                f"Category '{name}' contains label '{sorted(dupes)[0]}' more than once"
            )

    def _verify_label_tree(self, name: str, tree) -> None:
        if not isinstance(tree, dict) or not tree:
            raise LabelingSchemaError("Invalid Label Tree")
        for key, value in tree.items():
            if key == "description":
                if self._is_description(key, value):
                    continue
                raise LabelingSchemaError(
                    f"Label '{name}' does not have a valid description"
                )
            if not isinstance(value, dict):
                raise LabelingSchemaError(f"'{key}' is a leaf but not a description")
            self._verify_label_tree(key, value)

    def _extract_labels(self, node: dict) -> list[str]:
        labels = []
        for key, value in node.items():
            if self._is_description(key, value):
                continue
            if isinstance(value, dict):
                if self._has_description(value):
                    labels.append(key)
                labels += self._extract_labels(value)
        return labels

    def _extract_parents(self, parents: list[str], tree: dict) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for key, value in tree.items():
            if self._is_description(key, value):
                continue
            current = list(parents)
            if self._has_description(value):
                out[key] = parents
                current.append(key)
            out.update(self._extract_parents(current, value))
        return out

    # --- queries -----------------------------------------------------

    def validate_labels(self, labels: dict) -> bool:
        for key, values in labels.items():
            if key not in self._labels:
                raise KeyDoesnotExistInSchemaError(key)
            for label in values:
                if label not in self._labels[key]:
                    raise ValueDoesnotExistInSchemaError(key, label)
        return True

    def get_parent_labels(self, category: str, label: str) -> list[str]:
        if category not in self._parents:
            raise LabelingSchemaError(f"No such category: '{category}'")
        if label not in self._parents[category]:
            raise LabelingSchemaError(
                f"Cannot retrieve parents for label '{label}' without description"
            )
        return self._parents[category][label]


class Labeler(Processor):
    rule_type = "labeler"

    def __init__(self, rules=None, **processor_config):
        schema = processor_config.pop("schema", None)
        include_parents = bool(processor_config.pop("include_parent_labels", False))
        super().__init__(rules, **processor_config)
        if schema is not None:
            if isinstance(schema, LabelingSchema):
                self.schema = schema
            elif isinstance(schema, dict):
                self.schema = LabelingSchema.from_dict(schema)
            else:
                self.schema = LabelingSchema.from_file(schema)
            # reference processor.py:94 setup(): parent expansion FIRST,
            # then every rule must conform to the schema
            for rule in self.rules:
                label_cfg = rule.config.get("label", {})
                if include_parents:
                    label_cfg = {
                        cat: sorted(
                            set(values).union(
                                p
                                for v in values
                                for p in self.schema.get_parent_labels(cat, v)
                            )
                        )
                        for cat, values in label_cfg.items()
                    }
                    rule.config["label"] = label_cfg
                self.schema.validate_labels(label_cfg)
        else:
            self.schema = None

    def written_roots(self) -> list[str]:
        return ["label"]

    def transform_bulk(self, df: DataFrame) -> DataFrame:
        """All rules in ONE label write — the many-rules dispatch path
        (operators/dispatch.py; reference framework/rule_tree: match
        once, apply flat). The sequential ``transform`` chain is safe
        to build but a downstream filter on ``label`` pushed through it
        compounds exponentially (measured: unrunnable at 8 rules —
        tools/rule_scale_probe.py). Bit-identical to ``transform``
        whenever no rule filter reads ``label.*`` (pytest witness in
        tests/unit/test_rule_dispatch.py), empty and repeated value
        lists included."""
        from logprep_spark.operators.dispatch import labeler_bulk

        return labeler_bulk(self, df)

    def apply_rule(self, df: DataFrame, cond, cfg: dict) -> DataFrame:
        for category, values in cfg["label"].items():
            path = f"label.{category}"
            # an empty list is typed like the labels, not array<void>
            if values:
                new = F.array(*[F.lit(v) for v in sorted(values)])
            else:
                new = F.array().cast("array<string>")
            existing = fld.get_field(df, path)
            if existing is None:
                value = F.when(cond, new)
            else:
                # array_sort runs interpreted, but the code-generated
                # sort_array puts a null (from the input) first, and
                # moving it last reads `existing` once more: the base
                # of a downstream filter's growth through this chain
                # (Processor.set_when)
                merged = F.concat(F.coalesce(existing, F.array()), new)
                value = F.when(
                    cond, F.array_sort(F.array_distinct(merged))
                ).otherwise(existing)
            df = fld.set_field(df, path, value)
        return df
