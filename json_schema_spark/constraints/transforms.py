"""Rewrite modes as pure DataFrame -> DataFrame transforms (MODE_CAST /
MODE_REMOVE_ADDITIONALS — the reference's Cast.php and
Validator.php:1190-1217, 1417-1437). MODE_APPLY_DEFAULTS is
evaluator.apply_defaults.

The reference mutates a document in place; the table analog returns a new
DataFrame with retyped/pruned columns. One semantic shift is
inherent: a Spark column has ONE type, so a failed cast cannot "keep the
original value" the way PHP does — it becomes NULL (try_cast semantics)
and is surfaced by `cast_failures` so pipelines can route rejects. All
expressions are Catalyst built-ins (whole-stage codegen; try_cast /
from_json), zero Python.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _cast_expr(col: Column, src: T.DataType, target: str) -> Column:
    """Cast.php-shaped conversion, columnar form."""
    target = target.lower()
    if target == "string":
        # only numerics stringify (Cast.php:13-20); other types stay/NULL
        if isinstance(src, T.NumericType):
            return col.cast("string")
        return col.cast("string") if isinstance(src, T.StringType) else \
            F.lit(None).cast("string")
    if target == "number":
        return col.cast("string").try_cast("double")
    if target == "integer":
        # numeric strings with a '.' become doubles in the reference
        # (Cast.php:41-52); the columnar target type must be chosen up
        # front, so '.'-strings land as NULL bigint here and are counted
        # by cast_failures
        return col.cast("string").try_cast("bigint")
    if target == "boolean":
        s = F.lower(col.cast("string"))
        return (F.when(s.isin("1", "true"), F.lit(True))
                .when(s.isin("0", "false"), F.lit(False))
                .otherwise(F.lit(None).cast("boolean")))
    if target == "null":
        return F.lit(None).cast(src)
    raise ValueError(f"unsupported cast target {target!r}")


def cast_columns(df: DataFrame, targets: dict[str, Any]) -> DataFrame:
    """Retype columns per ``targets``: {col: 'integer'|'number'|'string'|
    'boolean'|'null' | DataType | DDL string | {'object': schema} |
    {'array': schema}}.

    JSON-string columns cast to object/array via from_json (Cast.php:59-92
    -> the engine's structured form).
    """
    types = {f.name: f.dataType for f in df.schema.fields}
    out = {}
    for name, target in targets.items():
        col = F.col(name)
        if isinstance(target, dict) and ("object" in target
                                         or "array" in target):
            schema = target.get("object") or target.get("array")
            out[name] = F.from_json(col.cast("string"), schema)
        elif isinstance(target, T.DataType):
            out[name] = col.try_cast(target)
        elif isinstance(target, str) and target.lower() not in (
                "string", "number", "integer", "boolean", "null"):
            out[name] = col.try_cast(target)  # raw DDL type
        else:
            out[name] = _cast_expr(col, types[name], target)
    return df.withColumns(out)


def cast_failures(df: DataFrame, targets: dict[str, Any]) -> DataFrame:
    """Per-column count of values a cast would null out (non-null before,
    null after) — single scan, the cast expressions evaluated inline."""
    pairs = df.select(*[F.col(c).alias(f"_pre_{c}") for c in targets])
    post = cast_columns(
        pairs.withColumns({c: F.col(f"_pre_{c}") for c in targets}),
        targets)
    return post.agg(*[
        F.sum((F.col(f"_pre_{c}").isNotNull()
               & F.col(c).isNull()).cast("long")).alias(c)
        for c in targets])


def remove_additional_columns(df: DataFrame,
                              allowed: list[str]) -> DataFrame:
    """MODE_REMOVE_ADDITIONALS at table granularity: project the allowed
    column set (order preserved), dropping everything else
    (Validator.php:1190-1217 unsets undeclared keys)."""
    keep = [c for c in df.columns if c in set(allowed)]
    return df.select(*keep)
