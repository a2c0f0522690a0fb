"""Keyword → Catalyst Column compiler.

Each (column, keyword) pair compiles to a named boolean predicate
(True = pass) plus an "observed value" expression for violation rows.
Everything stays JVM-side (whole-stage codegen) except the pandas-UDF
formats — per the design invariant (SURVEY.md §7): no per-row Python.

Null discipline (SQL three-valued logic vs the reference's exceptions): a
NULL verdict counts as a failure, as the reference's hard verdicts do (its
Validator.php throws; we emit a violation). The evaluator applies the rule
once, at the mask bit: And/Or, CASE WHEN, forall and exists never turn a
NULL leaf into a pass. Only a negated (``not``) or counted (``oneOf``)
sub-verdict is coalesced to False where it is built.

JSON-Schema applicability rule: a keyword constrains only values of its
applicable type (e.g. minLength only strings — Validator.php:580-596 is
inside the string branch of the gettype dispatch at :119-171). With a typed
Spark schema, applicability is decided statically at compile time: a
minLength on an integer column compiles to *no* constraint at all, and a
NULL value passes every keyword except `required` and non-null `type`.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from operator import and_, or_
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_spark.constraints.formats import format_predicate
from json_schema_spark.errors import SchemaError
from json_schema_spark.validator.phpsem import php_int_cast, php_type

BASE64_RX = r"^(?:[A-Za-z0-9+/]{4})*(?:[A-Za-z0-9+/]{2}==|[A-Za-z0-9+/]{3}=)?$"


@dataclass(frozen=True)
class CompiledConstraint:
    constraint_id: str  # e.g. "text.minLength"
    column: str         # source column name
    predicate: Column   # boolean; True = pass, NULL counts as a failure
    observed: Column    # string rendering of the offending value


# ---------------------------------------------------------------------------
# Spark type → JSON-type classification
# ---------------------------------------------------------------------------

def _json_type(dtype: T.DataType) -> str:
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "integer"
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "number"
    if isinstance(dtype, T.ArrayType):
        return "array"
    if isinstance(dtype, (T.StructType, T.MapType)):
        return "object"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, T.BinaryType):
        return "binary"
    if isinstance(dtype, T.TimestampType):
        return "timestamp"
    if isinstance(dtype, T.DateType):
        return "date"
    return "unknown"


def _is_numeric(dtype: T.DataType) -> bool:
    return _json_type(dtype) in ("integer", "number")


# the scalar names of php_type (a listed value) and _json_type (a column)
# as JSON types, integer and number unified (phpsem.deep_equal). A value
# php_type calls "unknown" (date, Decimal, bytes, ...) and a column of no
# JSON scalar type (date, timestamp, binary) have no known type.
_SCALAR_TYPE = {"integer": "number", "double": "number", "number": "number",
                "string": "string", "boolean": "boolean", "unknown": None}


def matching_scalars(values, dtype: T.DataType) -> list:
    """The non-null scalars of ``values`` that a value of a ``dtype``
    column can equal. A value is dropped only when both its JSON type and
    the column's are known and differ: it never matches, and in an
    ``isin`` it would make Spark cast the column to its type, which fails
    the job under ANSI mode. Every other scalar is kept as given."""
    jt = _json_type(dtype)
    if jt in ("array", "object"):
        return []
    want = _SCALAR_TYPE.get(jt)
    out = []
    for v in values:
        t = php_type(v)
        if t not in _SCALAR_TYPE:
            continue  # NULL, array, object
        if want is None or _SCALAR_TYPE[t] in (None, want):
            out.append(v)
    return out


def _observed(col: Column, dtype: T.DataType) -> Column:
    """Render the offending value as a string for the violations sink."""
    if isinstance(dtype, T.BinaryType):
        return F.base64(col)
    if isinstance(dtype, (T.ArrayType, T.StructType, T.MapType)):
        return F.to_json(col)
    return col.cast("string")


def _never_null(pred: Column) -> Column:
    """NULL → False, for a verdict that is negated or counted."""
    return F.coalesce(pred, F.lit(False))


def _pass_on_null(col: Column, pred: Column) -> Column:
    """JSON-Schema keywords ignore missing/null values (except required/type)."""
    return col.isNull() | pred


def length_keyword(kw: str, col: Column, n: int) -> Column:
    """``length(col) >= n`` for minLength, ``length(col) <= n`` for
    maxLength, on a string column (NULL on NULL), decided by the byte
    length wherever it can be.

    ``length`` walks every byte to count code points, while
    ``octet_length`` reads the stored size. Spark's count spends 1 to 4
    bytes per code point, even on invalid UTF-8, so
    ``chars <= bytes <= 4 * chars``: the bytes alone decide unless they
    lie between n and 4n, and only those strings are counted.
    """
    nbytes = F.octet_length(col)
    # the count sits in the CASE's else-branch, never in an And/Or: codegen's
    # subexpression elimination treats both children of And/Or as always
    # evaluated, and with minLength and maxLength on one column it would
    # hoist length(col) and count every row
    if kw == "minLength":
        return (F.when(nbytes >= 4 * n, True).when(nbytes < n, False)
                .otherwise(F.length(col) >= n))
    return (F.when(nbytes <= n, True).when(nbytes > 4 * n, False)
            .otherwise(F.length(col) <= n))


def multiple_of(col: Column, m: float) -> Column:
    """``col`` is a multiple of a non-zero ``m`` (NULL on NULL). Decimal
    rescaling mirrors the reference's power-of-10 trick (Validator.php:
    736-747), so 0.0075 % 0.0001 verdicts identically. A value that
    Decimal(38, 12) cannot hold (1e30, NaN), where a cast fails the job
    under ANSI mode, runs the trick itself in doubles, as
    ``phpsem.multiple_of_ok`` does: ``n - m * trunc(n / m) == 0``."""
    dec = T.DecimalType(38, 12)
    rem = F.try_mod(col.try_cast(dec), F.lit(m).try_cast(dec))
    scale = max(10, 10 ** len(str(php_int_cast(1 / m))))
    n, ms = col.cast("double") * scale, float(m) * scale
    q = n / ms
    return F.when(rem.isNotNull(), rem == 0) \
        .otherwise(n - ms * (q - q % 1) == 0)


# ---------------------------------------------------------------------------
# Per-keyword predicate builders. Each returns Column|None
# (None = statically inapplicable to this Spark type → no constraint).
# ---------------------------------------------------------------------------

def _type_pred(col: Column, dtype: T.DataType, arg: Any) -> Column | None:
    types = [arg] if isinstance(arg, str) else list(arg)
    types = [t.lower() for t in types]
    jt = _json_type(dtype)

    if jt in ("number", "integer"):
        # numeric unification (Check.php:23-41, Validator.php:205-216):
        # integer always satisfies number; a fraction-free float satisfies
        # integer (the 1.0-is-an-integer rule). `% 1`, not floor():
        # floor(double) is a BIGINT clamped at +-2^63, so 1e20 != floor.
        if "number" in types or (jt == "integer" and "integer" in types):
            value_ok = F.lit(True)
        elif "integer" in types:
            value_ok = col % 1 == 0
        else:
            value_ok = F.lit(False)
    else:
        value_ok = F.lit(jt in types)

    if "null" in types:
        return col.isNull() | value_ok
    return col.isNotNull() & value_ok


def _additional_items_pred(col: Column, dtype: T.DataType,
                           spec: dict[str, Any],
                           path: str) -> Column | None:
    """additionalItems is only meaningful alongside tuple-form items
    (Validator.php:1258-1284): False forbids elements beyond the tuple;
    a schema constrains every element past the tuple prefix."""
    arg = spec.get("additionalItems")
    items = spec.get("items")
    if arg is None or arg is True or not isinstance(items, list):
        return None
    if not isinstance(dtype, T.ArrayType):
        return None
    n = len(items)
    if arg is False:
        return _pass_on_null(col, F.size(col) <= n)
    extra = F.slice(col, n + 1, F.greatest(F.size(col) - n, F.lit(0)))
    return _pass_on_null(
        col,
        F.forall(extra, lambda e: _spec_predicate(
            e, dtype.elementType, arg, f"{path}/additionalItems")))


def _canonicalize_spec(spec: dict[str, Any]) -> dict[str, Any]:
    """Draft-4 boolean exclusive form ({"minimum": m,
    "exclusiveMinimum": true} — Validator.php:756-780) rewritten to the
    draft-6+ numeric form before compilation; a bare boolean flag with
    no sibling bound constrains nothing."""
    out = spec
    for kw, bound in (("exclusiveMinimum", "minimum"),
                      ("exclusiveMaximum", "maximum")):
        if isinstance(spec.get(kw), bool):
            if out is spec:
                out = dict(spec)
            flag = out.pop(kw)
            if flag and bound in out:
                out[kw] = out.pop(bound)
    return out


def _if_predicate(col: Column, dtype: T.DataType, spec: dict[str, Any],
                  path: str) -> Column | None:
    """if/then/else folded to one conditional predicate
    (Validator.php:280-335; F.when keeps it a pure expression), or None
    without ``if``."""
    if "if" not in spec:
        return None
    if_p = _spec_predicate(col, dtype, spec["if"], f"{path}/if")
    then_p, else_p = [
        _spec_predicate(col, dtype, spec[kw], f"{path}/{kw}")
        if kw in spec else F.lit(True) for kw in ("then", "else")]
    return F.when(if_p, then_p).otherwise(else_p)


def _spec_predicate(col: Column, dtype: T.DataType,
                    spec: dict[str, Any], path: str) -> Column:
    """AND of every keyword predicate in a (sub-)spec — used standalone by
    combinators; NULL counts as a failure, as at the top level."""
    spec = _canonicalize_spec(spec)
    if "dependencies" in spec:
        # a column-level keyword (other columns' presence): it has no
        # meaning on a sub-value, and must not pass silently
        raise SchemaError("dependencies is only supported at a column's "
                          "top level", f"{path}/dependencies")
    preds = []
    cond = _if_predicate(col, dtype, spec, path)
    if cond is not None:
        preds.append(cond)
    for kw, arg in spec.items():
        built = _keyword_predicate(kw, col, dtype, arg, path)
        if built is not None:
            preds.append(built)
    ai = _additional_items_pred(col, dtype, spec, path)
    if ai is not None:
        preds.append(ai)
    if not preds:
        return F.lit(True)
    return reduce(and_, preds)


def _keyword_predicate(kw: str, col: Column, dtype: T.DataType,
                       arg: Any, path: str) -> Column | None:
    jt = _json_type(dtype)

    if kw == "required":
        return col.isNotNull() if arg else None

    if kw == "type":
        return _type_pred(col, dtype, arg)

    if kw == "const":
        if isinstance(arg, (dict, list)):
            return _pass_on_null(col, F.to_json(col) == F.lit(
                __import__("json").dumps(arg, separators=(",", ":"))))
        if not matching_scalars([arg], dtype):
            return col.isNull()
        return _pass_on_null(col, col == F.lit(arg))

    if kw == "enum":
        scalars = matching_scalars(arg, dtype)
        composites = [v for v in arg if isinstance(v, (dict, list))]
        preds = []
        if scalars:
            preds.append(col.isin(scalars))
        if composites and jt in ("array", "object"):
            import json as _json
            canon = [_json.dumps(v, separators=(",", ":")) for v in composites]
            preds.append(F.to_json(col).isin(canon))
        if not preds:
            return col.isNull()
        return _pass_on_null(col, reduce(or_, preds))

    # ---- string keywords (Validator.php:580-713) ----
    if kw in ("minLength", "maxLength", "pattern", "format",
              "contentEncoding", "contentMediaType"):
        if jt != "string":
            return None
        if kw in ("minLength", "maxLength"):
            return _pass_on_null(col, length_keyword(kw, col, int(arg)))
        if kw == "pattern":
            # rlike = partial match, same as preg_match (Validator.php:636)
            return _pass_on_null(col, col.rlike(arg))
        if kw == "format":
            return format_predicate(arg, col)
        if kw == "contentEncoding":
            if arg == "base64":
                return _pass_on_null(col, col.rlike(BASE64_RX))
            raise SchemaError(f"unsupported contentEncoding {arg!r}", path)
        if kw == "contentMediaType":
            if arg == "application/json":
                return _pass_on_null(col, F.try_parse_json(col).isNotNull())
            raise SchemaError(f"unsupported contentMediaType {arg!r}", path)

    # ---- numeric keywords (Validator.php:721-900) ----
    if kw in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
              "multipleOf"):
        if not _is_numeric(dtype):
            return None
        lit = F.lit(arg)
        if kw == "minimum":
            return _pass_on_null(col, col >= lit)
        if kw == "maximum":
            return _pass_on_null(col, col <= lit)
        if kw == "exclusiveMinimum":
            return _pass_on_null(col, col > lit)
        if kw == "exclusiveMaximum":
            return _pass_on_null(col, col < lit)
        if kw == "multipleOf":
            if arg == 0:
                return None  # 0 always passes (Validator.php:731-733)
            if jt == "integer" and float(arg).is_integer():
                return _pass_on_null(col, F.pmod(col, F.lit(int(arg))) == 0)
            return _pass_on_null(col, multiple_of(col, arg))

    # ---- array keywords (Validator.php:1226-1410) ----
    if kw in ("items", "contains", "minItems", "maxItems", "uniqueItems"):
        if jt != "array":
            return None
        elem_t = dtype.elementType
        if kw == "minItems":
            return _pass_on_null(col, F.size(col) >= int(arg))
        if kw == "maxItems":
            return _pass_on_null(col, F.size(col) <= int(arg))
        if kw == "uniqueItems":
            if not arg:
                return None
            return _pass_on_null(
                col, F.size(col) == F.size(F.array_distinct(col)))
        if kw == "items":
            if isinstance(arg, list):  # tuple form: per-index schemas
                preds = []
                for i, sub in enumerate(arg):
                    e = F.element_at(col, i + 1)
                    preds.append(
                        (F.size(col) < i + 1)
                        | _spec_predicate(e, elem_t, sub, f"{path}/items[{i}]"))
                return _pass_on_null(col, reduce(and_, preds))
            return _pass_on_null(
                col,
                F.forall(col, lambda e: _spec_predicate(
                    e, elem_t, arg, f"{path}/items")))
        if kw == "contains":
            return _pass_on_null(
                col,
                F.exists(col, lambda e: _spec_predicate(
                    e, elem_t, arg, f"{path}/contains")))

    # ---- object keywords on struct/map columns (Validator.php:909-1183) ----
    if kw in ("properties", "requiredProperties", "minProperties",
              "maxProperties", "propertyNames", "patternProperties",
              "additionalProperties"):
        if isinstance(dtype, T.StructType):
            return _struct_object_pred(kw, col, dtype, arg, path)
        if isinstance(dtype, T.MapType):
            return _map_object_pred(kw, col, dtype, arg, path)
        return None

    # ---- combinators (Validator.php:280-572) ----
    if kw == "allOf":
        return reduce(and_, [
            _spec_predicate(col, dtype, sub, f"{path}/allOf[{i}]")
            for i, sub in enumerate(arg)])
    if kw == "anyOf":
        return reduce(or_, [
            _spec_predicate(col, dtype, sub, f"{path}/anyOf[{i}]")
            for i, sub in enumerate(arg)])
    if kw == "oneOf":
        flags = [_never_null(_spec_predicate(
            col, dtype, sub, f"{path}/oneOf[{i}]")).cast("int")
            for i, sub in enumerate(arg)]
        return reduce(Column.__add__, flags) == 1
    if kw == "not":
        return ~_never_null(_spec_predicate(col, dtype, arg, f"{path}/not"))
    # handled by _if_predicate, at the set level, or (additionalItems:
    # only beside tuple-form items) by _additional_items_pred
    if kw in ("if", "then", "else", "default", "dependencies",
              "additionalItems"):
        return None

    raise SchemaError(f"keyword {kw!r} not applicable to {dtype.simpleString()}",
                      path)


def _struct_object_pred(kw: str, col: Column, dtype: T.StructType,
                        arg: Any, path: str) -> Column | None:
    names = [f.name for f in dtype.fields]
    types = {f.name: f.dataType for f in dtype.fields}
    if kw == "properties":
        preds = []
        for name, sub in arg.items():
            if name not in types:
                continue  # closed world: unknown fields handled at set level
            preds.append(_spec_predicate(
                col.getField(name), types[name], sub, f"{path}/properties/{name}"))
        if not preds:
            return None
        return _pass_on_null(col, reduce(and_, preds))
    if kw == "requiredProperties":
        missing_is_error = [
            col.getField(n).isNotNull() if n in types else F.lit(False)
            for n in arg]
        return _pass_on_null(col, reduce(and_, missing_is_error))
    if kw == "minProperties":
        cnt = reduce(Column.__add__,
                     [col.getField(n).isNotNull().cast("int") for n in names])
        return _pass_on_null(col, cnt >= int(arg))
    if kw == "maxProperties":
        cnt = reduce(Column.__add__,
                     [col.getField(n).isNotNull().cast("int") for n in names])
        return _pass_on_null(col, cnt <= int(arg))
    if kw == "propertyNames":
        # struct field names are static → compile-time constant verdict
        ok = all(_static_name_ok(n, arg) for n in names)
        return F.lit(ok)
    return None


def _map_object_pred(kw: str, col: Column, dtype: T.MapType,
                     arg: Any, path: str) -> Column | None:
    val_t = dtype.valueType
    if kw == "minProperties":
        return _pass_on_null(col, F.size(col) >= int(arg))
    if kw == "maxProperties":
        return _pass_on_null(col, F.size(col) <= int(arg))
    if kw == "requiredProperties":
        return _pass_on_null(col, reduce(and_, [
            F.element_at(col, k).isNotNull() for k in arg]))
    if kw == "propertyNames":
        sub = arg if isinstance(arg, dict) else {}
        return _pass_on_null(col, F.forall(
            F.map_keys(col),
            lambda k: _spec_predicate(k, T.StringType(), sub,
                                      f"{path}/propertyNames")))
    if kw == "properties":
        preds = []
        for name, sub in arg.items():
            v = F.element_at(col, name)
            preds.append(v.isNull() | _spec_predicate(
                v, val_t, sub, f"{path}/properties/{name}"))
        return _pass_on_null(col, reduce(and_, preds))
    if kw == "patternProperties":
        preds = []
        for rx, sub in arg.items():
            # apply sub-spec to every value whose key matches rx
            matched = F.map_filter(col, lambda k, v: k.rlike(rx))
            preds.append(F.forall(
                F.map_values(matched),
                lambda v: _spec_predicate(v, val_t, sub,
                                          f"{path}/patternProperties")))
        return _pass_on_null(col, reduce(and_, preds))
    if kw == "additionalProperties":
        if arg is True:
            return None
        declared = list((arg or {}).get("_declared", [])) if isinstance(arg, dict) else []
        if arg is False and declared:
            extra = F.filter(F.map_keys(col),
                             lambda k: ~k.isin(declared))
            return _pass_on_null(col, F.size(extra) == 0)
        return None
    return None


def _static_name_ok(name: str, spec: dict[str, Any]) -> bool:
    import re
    if "minLength" in spec and len(name) < spec["minLength"]:
        return False
    if "maxLength" in spec and len(name) > spec["maxLength"]:
        return False
    if "pattern" in spec and not re.search(spec["pattern"], name):
        return False
    return True


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def compile_constraints(cset, schema: T.StructType) -> list[CompiledConstraint]:
    """Compile a ConstraintSet against a table schema into named predicates.

    Emits one CompiledConstraint per (column, top-level keyword) so the
    violations sink can attribute failures — the evaluate-all inversion of
    the reference's fail-fast ValidationException (Validator.php:228-235).
    """
    by_name = {f.name: f.dataType for f in schema.fields}
    out: list[CompiledConstraint] = []

    for col_name, spec in cset.columns.items():
        if col_name not in by_name:
            # missing column: `required` → always-fail constraint; other
            # keywords are vacuous (the column can never violate them)
            if spec.get("required"):
                out.append(CompiledConstraint(
                    f"{col_name}.required", col_name,
                    F.lit(False), F.lit(None).cast("string")))
            continue
        dtype = by_name[col_name]
        col = F.col(col_name)
        obs = _observed(col, dtype)
        spec = _canonicalize_spec(spec)

        cond = _if_predicate(col, dtype, spec, f"#{col_name}")
        if cond is not None:
            out.append(CompiledConstraint(f"{col_name}.if", col_name,
                                          cond, obs))

        for kw, arg in spec.items():
            pred = _keyword_predicate(kw, col, dtype, arg, f"#{col_name}")
            if pred is None:
                continue
            out.append(CompiledConstraint(f"{col_name}.{kw}", col_name,
                                          pred, obs))

        ai = _additional_items_pred(col, dtype, spec, f"#{col_name}")
        if ai is not None:
            out.append(CompiledConstraint(
                f"{col_name}.additionalItems", col_name, ai, obs))

        # dependencies: presence of this column implies presence/specs of
        # other columns (Validator.php:1132-1146; array form → required,
        # Schema.php:1062-1079)
        dep = spec.get("dependencies")
        if dep is not None:
            if isinstance(dep, list):
                dep_pred = reduce(and_, [
                    F.col(d).isNotNull() if d in by_name else F.lit(False)
                    for d in dep])
            else:
                dep_pred = reduce(and_, [
                    _spec_predicate(F.col(d), by_name[d], sub, f"#{col_name}/dep")
                    if d in by_name else F.lit(False)
                    for d, sub in dep.items()])
            out.append(CompiledConstraint(
                f"{col_name}.dependencies", col_name,
                _pass_on_null(col, dep_pred), obs))

    return out
