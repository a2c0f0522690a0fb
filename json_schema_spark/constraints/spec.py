"""Declarative constraint-set model.

The reference compiles a JSON-Schema keyword tree eagerly into `Schema`
objects (/root/reference/src/Schema.php:38-119, 36 processX passes that
type-check every keyword argument and throw SchemaException on malformed
schemas). `ConstraintSet` is the table-level analog: per-column keyword
specs, validated eagerly on construction, compiled once on the driver into
named Catalyst boolean expressions.

Spec shape::

    cset = ConstraintSet(
        columns={
            "url":  {"type": "string", "required": True, "format": "uri",
                      "pattern": "^https?://"},
            "text": {"type": ["string", "null"], "minLength": 1,
                      "maxLength": 100_000},
            "lang": {"enum": ["en", "de", ...]},
        },
        unique=["url"],                      # dataset-level uniqueItems
        referential={"lang": ["en", "de"]},  # allow-list (or a DataFrame)
    )

Keywords per column mirror SURVEY.md §2.2–2.7. Combinators (allOf/anyOf/
oneOf/not/if-then-else) nest sub-specs for the same column.
"""

from __future__ import annotations

import json
import hashlib
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from json_schema_spark.errors import SchemaError

# keywords the column compiler understands (superset validated here; the
# compiler rejects type-inapplicable usage at compile time)
_SCALAR_KEYWORDS = {
    "type", "required", "format", "enum", "const", "default",
    "minLength", "maxLength", "pattern",
    "contentEncoding", "contentMediaType",
    "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum", "multipleOf",
    "items", "contains", "minItems", "maxItems", "uniqueItems",
    "additionalItems",
    "properties", "requiredProperties", "minProperties", "maxProperties",
    "propertyNames", "patternProperties", "additionalProperties",
    "allOf", "anyOf", "oneOf", "not", "if", "then", "else",
    "dependencies",
}


def _allow_list_key(allowed: Any) -> Any:
    """JSON-able canonical form of a referential allow-list: ``"<df>"``
    for a DataFrame, else its values sorted — by (type name, repr) when
    Python cannot order them (None or mixed types)."""
    if isinstance(allowed, DataFrame):
        return "<df>"
    try:
        return sorted(allowed)
    except TypeError:
        pass
    try:
        return sorted(allowed, key=lambda v: (type(v).__name__, repr(v)))
    except TypeError:  # not iterable
        return repr(allowed)


_VALID_TYPES = {"string", "number", "integer", "array", "object", "boolean",
                "null", "binary", "timestamp", "date"}


def _check_column_spec(col: str, spec: dict[str, Any]) -> None:
    """Eager keyword-argument validation — the analog of the reference's
    Schema::processX compile passes (e.g. Schema.php:221-234 type whitelist,
    :522-537 minLength int>=0, :570-579 min<=max cross-checks)."""
    path = f"#/{col}"
    if not isinstance(spec, dict):
        raise SchemaError("column spec must be a dict", path)
    for kw in spec:
        if kw not in _SCALAR_KEYWORDS:
            raise SchemaError(f"unknown keyword {kw!r}", path)

    if "type" in spec:
        t = spec["type"]
        types = [t] if isinstance(t, str) else t
        if not isinstance(types, list) or not all(isinstance(x, str) for x in types):
            raise SchemaError("type must be a string or list of strings", path)
        bad = {x.lower() for x in types} - _VALID_TYPES
        if bad:
            raise SchemaError(f"invalid type(s) {sorted(bad)}", path)

    for kw in ("minLength", "maxLength", "minItems", "maxItems",
               "minProperties", "maxProperties"):
        if kw in spec:
            v = spec[kw]
            if not isinstance(v, int) or isinstance(v, bool) or v < 0:
                raise SchemaError(f"{kw} must be a non-negative integer", path)
    for lo, hi in (("minLength", "maxLength"), ("minItems", "maxItems"),
                   ("minProperties", "maxProperties")):
        if lo in spec and hi in spec and spec[lo] > spec[hi]:
            raise SchemaError(f"{lo} > {hi}", path)

    for kw in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
               "multipleOf"):
        if kw not in spec:
            continue
        # draft-4 boolean exclusive form (a flag modifying the sibling
        # bound, Validator.php:756-780) is accepted and canonicalized by
        # the compiler; draft-6+ values must be numeric
        if kw in ("exclusiveMinimum", "exclusiveMaximum") \
                and isinstance(spec[kw], bool):
            continue
        if isinstance(spec[kw], bool) \
                or not isinstance(spec[kw], (int, float)):
            raise SchemaError(f"{kw} must be numeric", path)
    if ("minimum" in spec and "maximum" in spec
            and spec["minimum"] > spec["maximum"]):
        raise SchemaError("minimum > maximum", path)
    if "multipleOf" in spec and spec["multipleOf"] < 0:
        raise SchemaError("multipleOf must be non-negative", path)

    if "pattern" in spec and not isinstance(spec["pattern"], str):
        raise SchemaError("pattern must be a string", path)
    if "format" in spec and not isinstance(spec["format"], str):
        raise SchemaError("format must be a string", path)
    if "enum" in spec:
        if not isinstance(spec["enum"], list) or len(spec["enum"]) == 0:
            raise SchemaError("enum must be a non-empty list", path)
    if "required" in spec and not isinstance(spec["required"], bool):
        raise SchemaError("required must be boolean", path)
    if "uniqueItems" in spec and not isinstance(spec["uniqueItems"], bool):
        raise SchemaError("uniqueItems must be boolean", path)

    for comb in ("allOf", "anyOf", "oneOf"):
        if comb in spec:
            subs = spec[comb]
            if not isinstance(subs, list) or not subs:
                raise SchemaError(f"{comb} must be a non-empty list", path)
            for i, sub in enumerate(subs):
                _check_column_spec(f"{col}/{comb}[{i}]", sub)
    for comb in ("not", "if", "then", "else"):
        if comb in spec:
            _check_column_spec(f"{col}/{comb}", spec[comb])

    if "dependencies" in spec:
        dep = spec["dependencies"]
        if not isinstance(dep, (list, dict)):
            raise SchemaError("dependencies must be a list of columns or a "
                              "{column: spec} dict", path)


@dataclass
class ConstraintSet:
    """Compiled-once driver-side constraint specification."""

    columns: dict[str, dict[str, Any]] = field(default_factory=dict)
    # dataset-level uniqueness: list of columns (or tuples for composite keys)
    unique: list[Any] = field(default_factory=list)
    # referential allow-lists: column -> list of allowed values | DataFrame
    referential: dict[str, Any] = field(default_factory=dict)
    name: str = "constraints"

    def __post_init__(self) -> None:
        if not isinstance(self.columns, dict):
            raise SchemaError("columns must be a dict of {column: spec}")
        for col, spec in self.columns.items():
            _check_column_spec(col, spec)

    @property
    def unique_keys(self) -> list[list[str]]:
        """The column list of each uniqueness key."""
        return [list(u) if isinstance(u, (list, tuple)) else [u]
                for u in self.unique]

    # -- identity ------------------------------------------------------
    def content_hash(self) -> str:
        """Stable hash of the spec — recorded in checkpoint lineage
        manifests (north_rule: per-partition lineage incl. constraint-set
        hash) and part of the evaluator's plan-cache key, so it never
        raises on a set the constructor accepts."""
        payload = json.dumps(
            {
                "columns": self.columns,
                "unique": self.unique_keys,
                "referential": {
                    k: _allow_list_key(v)
                    for k, v in self.referential.items()
                },
            },
            sort_keys=True,
            default=str,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    @classmethod
    def from_json_schema(cls, schema: dict[str, Any] | str,
                         name: str = "constraints") -> "ConstraintSet":
        """Build from an object-form JSON Schema
        ({"type": "object", "properties": {...}, "required": [...]}),
        mapping each property to a column spec — the bridge from the
        reference's document world to the table world."""
        if isinstance(schema, str):
            schema = json.loads(schema)
        if not isinstance(schema, dict):
            raise SchemaError("JSON schema must be an object")
        props = schema.get("properties", {})
        required = set(schema.get("required", []))
        columns: dict[str, dict[str, Any]] = {}
        for col, sub in props.items():
            spec = {k: v for k, v in sub.items() if k in _SCALAR_KEYWORDS}
            if col in required:
                spec["required"] = True
            columns[col] = spec
        return cls(columns=columns, name=name)
