"""KeyChecker — record which required fields are missing.

Reference: /root/reference/logprep/processor/key_checker/processor.py
(``source_fields`` key list; missing keys land as a list in
``target_field``). With a static schema, keys absent from the schema
are compile-time constants; present-but-null values are checked
per-row with ``isNull`` — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logprep_spark import fields as fld
from logprep_spark.operators.base import Processor


class KeyChecker(Processor):
    rule_type = "key_checker"

    def apply_rule(self, df: DataFrame, cond, cfg: dict) -> DataFrame:
        # the keys are config constants, so they sort here and the
        # missing ones gather in that order as one NUL-joined
        # concat_ws (which skips the present keys' nulls) split once:
        # code-generated, where array_compact / array_sort are
        # higher-order functions that run interpreted. None missing
        # -> '' -> null, as before.
        missing_exprs = []
        for key in sorted(cfg["source_fields"]):
            col = fld.get_field(df, key)
            if col is None:
                missing_exprs.append(F.lit(key))
            else:
                missing_exprs.append(F.when(col.isNull(), F.lit(key)))
        joined = F.concat_ws("\x00", *missing_exprs)
        value = F.split(F.nullif(joined, F.lit("")), "\x00")
        return self.set_when(df, cfg["target_field"], cond, value)
