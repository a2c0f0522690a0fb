"""Hybrid JSON validation: route each schema to the fastest capable path.

A JSON-string column can be validated two ways:
- the VARIANT path (`validate_json_variant`): one `try_parse_json` per
  row, each property read as a sub-variant and type-checked against
  `schema_of_variant` — zero Python, whole-stage codegen, and the same
  verdicts as the document path — for (possibly untyped) object
  schemas of scalar-constrained properties;
- the DOCUMENT path (validator/json_column.py): full draft-7 semantics,
  Arrow-batched Python — handles everything, costs Python time.

`validate_json_auto` decides per SCHEMA (driver-side, once): the
variant path when `variant_plan` accepts the schema, otherwise the
document path.
"""

from __future__ import annotations

import re
from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_schema_spark.constraints.compiler import length_keyword, multiple_of

# Property / required names are interpolated literally into variant_get
# JSON paths ("$.{name}" — '.' navigates into nesting, '[' is an index
# accessor and a hard error, '*' is a wildcard). Names outside this
# allowlist route to the document path, whose dict lookups are exact for
# any name.
_SAFE_NAME = re.compile(r"^[A-Za-z0-9_-]+$")


def _names_safe(*names: str) -> bool:
    return all(isinstance(n, str) and _SAFE_NAME.match(n) for n in names)


_VARIANT_PROP_KEYWORDS = {
    "type", "enum", "const", "minLength", "maxLength", "pattern",
    "format", "minimum", "maximum", "exclusiveMinimum",
    "exclusiveMaximum", "multipleOf", "default",
}
_VARIANT_TYPES = {"string", "integer", "number", "boolean", "null"}


def variant_plan(schema: dict) -> dict | None:
    """Normalized {props, required, root_must_be_object} when the schema
    is variant-path-expressible: a (possibly untyped) object schema of
    scalar-constrained properties. Union property types and absent
    top-level `type` are fine — the JSON type is read per row from
    schema_of_variant."""
    if not isinstance(schema, dict):
        return None
    if schema.get("type") not in ("object", None):
        return None
    if set(schema) - {"type", "properties", "required",
                      "additionalProperties", "$schema", "title",
                      "description"}:
        return None
    ap = schema.get("additionalProperties", True)
    if ap is not True and ap is not False:
        return None  # schema-form needs per-extra-key validation
    props = schema.get("properties", {})
    if not isinstance(props, dict):
        return None
    for spec in props.values():
        if not isinstance(spec, dict):
            return None
        if set(spec) - _VARIANT_PROP_KEYWORDS:
            return None
        t = spec.get("type")
        types = [t] if isinstance(t, str) else (t or [])
        if not set(types) <= _VARIANT_TYPES:
            return None
        # composite const/enum members need deep equality — the scalar
        # member matcher would silently mis-verdict them: fall back
        if isinstance(spec.get("const"), (dict, list)):
            return None
        if any(isinstance(v, (dict, list)) for v in spec.get("enum", [])):
            return None
        # draft-4 boolean exclusive form: the document path implements
        # the per-draft behavior (rewrite under draft 4, SchemaError
        # under 6/7) — route there rather than guess a version here
        if isinstance(spec.get("exclusiveMinimum"), bool) \
                or isinstance(spec.get("exclusiveMaximum"), bool):
            return None
    required = schema.get("required", [])
    if not (isinstance(required, list)
            and all(isinstance(r, str) for r in required)):
        return None
    if not _names_safe(*props, *required):
        return None
    if not props and not required and ap is True \
            and schema.get("type") != "object":
        return None  # nothing to check — let the document path decide
    return {"props": props, "required": required,
            "no_additional": ap is False,
            "root_must_be_object": schema.get("type") == "object"}


def _variant_prop_pred(v: Column, spec: dict) -> Column:
    """Pass-predicate for one property sub-variant; NULL fails at ``valid``.

    Applicability mirrors the document path: absent property (NULL
    variant) passes everything except `required` (handled by the
    caller); each keyword applies only to values of its JSON type —
    gates use schema_of_variant because try_variant_get COERCES across
    types (BIGINT -> '123', true -> 1.0)."""
    jt = F.schema_of_variant(v)
    present = v.isNotNull()
    is_string = jt == "STRING"
    is_bool = jt == "BOOLEAN"
    is_void = jt == "VOID"
    is_num = (jt == "BIGINT") | (jt == "DOUBLE") | jt.startswith("DECIMAL")
    sval = F.try_variant_get(v, "$", "string")
    dval = F.try_variant_get(v, "$", "double")
    bval = F.try_variant_get(v, "$", "boolean")

    def gated(applies: Column, pred: Column) -> Column:
        return ~F.coalesce(present & applies, F.lit(False)) | pred

    def type_ok(types: list[str]) -> Column:
        opts = []
        for t in types:
            if t == "string":
                opts.append(is_string)
            elif t == "integer":
                # numeric unification: fraction-free values are integers
                # (`% 1`: floor(double) clamps at +-2^63, see compiler)
                opts.append((jt == "BIGINT") | (is_num & (dval % 1 == 0)))
            elif t == "number":
                opts.append(is_num)
            elif t == "boolean":
                opts.append(is_bool)
            elif t == "null":
                opts.append(is_void)
        if not opts:
            return F.lit(False)
        return reduce(or_, opts)

    def member_match(values: list) -> Column:
        strs = [x for x in values if isinstance(x, str)]
        bools = [x for x in values if isinstance(x, bool)]
        nums = [float(x) for x in values
                if isinstance(x, (int, float)) and not isinstance(x, bool)]
        opts = []
        if strs:
            opts.append(is_string & sval.isin(strs))
        if nums:
            opts.append(is_num & dval.isin(nums))
        if bools:
            opts.append(is_bool & bval.isin(bools))
        if any(x is None for x in values):
            opts.append(is_void)
        if not opts:
            return F.lit(False)
        return reduce(or_, opts)

    preds: list[Column] = []
    for kw, arg in spec.items():
        if kw == "type":
            types = [arg] if isinstance(arg, str) else list(arg)
            preds.append(~present | type_ok(types))
        elif kw == "enum":
            scalars = [x for x in arg
                       if not isinstance(x, (dict, list))]
            preds.append(~present | member_match(scalars))
        elif kw == "const":
            if not isinstance(arg, (dict, list)):
                preds.append(~present | member_match([arg]))
        elif kw in ("minLength", "maxLength"):
            preds.append(gated(is_string, length_keyword(kw, sval, int(arg))))
        elif kw == "pattern":
            preds.append(gated(is_string, sval.rlike(arg)))
        elif kw == "format":
            # the reference applies format to ANY present value
            # (Validator.php:245-271 calls the check before the type
            # dispatch) and every Check.php function returns false for
            # non-strings — so a present non-string FAILS, absent passes
            from json_schema_spark.constraints.formats import (
                format_predicate)
            preds.append(
                ~present | (is_string & format_predicate(arg, sval)))
        elif kw == "minimum":
            preds.append(gated(is_num, dval >= F.lit(arg)))
        elif kw == "maximum":
            preds.append(gated(is_num, dval <= F.lit(arg)))
        elif kw == "exclusiveMinimum":
            preds.append(gated(is_num, dval > F.lit(arg)))
        elif kw == "exclusiveMaximum":
            preds.append(gated(is_num, dval < F.lit(arg)))
        elif kw == "multipleOf":
            if arg == 0:
                continue
            preds.append(gated(is_num, multiple_of(dval, arg)))
    if not preds:
        return F.lit(True)
    return reduce(and_, preds)


def validate_json_variant(df: DataFrame, schema: dict,
                          column: str | Column = "json",
                          id_col: str = "id") -> DataFrame:
    """(id, valid) with exact document-path verdicts for flat scalar
    object schemas — single try_parse_json, zero Python:
    - '123' (JSON string) vs 123 (number) distinguished for type checks;
    - explicit null vs absent key distinguished: `required` passes on
      explicit null (PHP property_exists semantics);
    - absent top-level `type`: non-object roots VALIDATE (required and
      properties apply to objects only), while malformed JSON fails.
    """
    plan = variant_plan(schema)
    if plan is None:
        raise ValueError("schema is not variant-path-expressible")
    col = F.col(column) if isinstance(column, str) else column
    root = F.try_parse_json(col)
    root_jt = F.schema_of_variant(root)
    parse_ok = root.isNotNull()
    is_obj = root_jt.startswith("OBJECT")

    field_ok = F.lit(True)
    for name, spec in plan["props"].items():
        v = F.variant_get(root, f"$.{name}", "variant")
        field_ok = field_ok & _variant_prop_pred(v, spec)
    for req in plan["required"]:
        field_ok = field_ok & F.variant_get(
            root, f"$.{req}", "variant").isNotNull()
    if plan["no_additional"]:
        # json_object_keys re-parses the raw string: Spark has no
        # key-enumeration function over variants, so this branch (and
        # only this branch) costs one extra JSON parse per row
        declared = list(plan["props"])
        keys_ok = F.forall(
            F.json_object_keys(col),
            lambda k: k.isin(declared) if declared else F.lit(False))
        field_ok = field_ok & keys_ok

    if plan["root_must_be_object"]:
        ok = parse_ok & is_obj & field_ok
    else:
        # object keywords are ignored for non-object roots
        ok = parse_ok & F.when(is_obj, field_ok).otherwise(F.lit(True))
    # NULL → False once, for the whole verdict: the And, Or and CASE WHEN
    # above never turn a NULL part of it into a pass
    return df.select(F.col(id_col),
                     F.coalesce(ok, F.lit(False)).alias("valid"))


def validate_json_auto(df: DataFrame, schema: dict,
                       column: str | Column = "json",
                       id_col: str = "id",
                       version: str = "7",
                       url_cache: dict | None = None) -> DataFrame:
    """(id, valid) per document, by the fastest capable path: the
    variant path when ``variant_plan`` accepts the schema, else the
    Arrow document path. Schemas with $refs take the document path
    (``variant_plan`` rejects the keyword), whose driver-side resolver
    consults a pre-seeded ``url_cache`` (never the network)."""
    if is_fast_path(schema):
        return validate_json_variant(df, schema, column, id_col)
    from json_schema_spark.validator.json_column import validate_json_column
    out = validate_json_column(df, schema, column, version,
                               url_cache=url_cache)
    return out.select(F.col(id_col),
                      F.col("_validation.valid").alias("valid"))


def is_fast_path(schema: dict) -> bool:
    return variant_plan(schema) is not None
