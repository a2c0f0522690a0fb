"""Hybrid JSON validation routing: variant fast path vs document path."""

from __future__ import annotations

from pyspark.sql import functions as F

FLAT_SCHEMA = {
    "type": "object",
    "required": ["doc_id", "lang"],
    "properties": {
        "text": {"type": "string", "minLength": 5},
        "lang": {"enum": ["en", "zh", "es", "de", "fr"]},
        "n_chars": {"type": "integer", "minimum": 10, "maximum": 500},
    },
}

NESTED_SCHEMA = {
    "type": "object",
    "properties": {"a": {"items": {"type": "integer"}}},
}


def _auto_routing_cases():
    """(docs, schemas) of test_auto_routing_randomized_parity, seeded:
    40 random documents and 12 random object schemas, some of them
    with composite enum members or additionalProperties."""
    import json
    import random

    rng = random.Random(99)

    def rand_spec():
        spec = {}
        t = rng.choice([["string"], ["integer"], None, ["number", "null"]])
        if t:
            spec["type"] = t
        if rng.random() < 0.3:
            spec["minLength"] = rng.randint(0, 5)
        if rng.random() < 0.3:
            spec["minimum"] = rng.randint(-3, 3)
        if rng.random() < 0.25:
            spec["enum"] = rng.sample(
                ["a", "b", 1, 2.5, None, [1], {"z": 1}], k=3)
        return spec

    def rand_doc():
        r = rng.random()
        if r < 0.1:
            return "oops {"
        if r < 0.2:
            return json.dumps(rng.choice([1, "s", [2], None, True]))
        keys = rng.sample(["a", "b", "c", "d"], k=rng.randint(0, 4))
        vals = ["a", "b", 1, 2.5, None, [1], {"z": 1}, True]
        return json.dumps({k: rng.choice(vals) for k in keys})

    docs = [rand_doc() for _ in range(40)]
    schemas = []
    for _ in range(12):
        schema = {"type": "object",
                  "properties": {k: rand_spec()
                                 for k in rng.sample(["a", "b", "c"],
                                                     k=rng.randint(1, 3))}}
        if rng.random() < 0.5:
            schema["required"] = rng.sample(["a", "b"], k=1)
        if rng.random() < 0.4:
            schema["additionalProperties"] = rng.choice([True, False])
        schemas.append(schema)
    return docs, schemas


def test_routing_decision():
    from json_schema_spark.validator.hybrid import is_fast_path, variant_plan

    assert is_fast_path(FLAT_SCHEMA)
    no_type = {k: v for k, v in FLAT_SCHEMA.items() if k != "type"}
    assert is_fast_path(no_type)
    assert not is_fast_path(NESTED_SCHEMA)     # array property
    assert not is_fast_path({"allOf": []})     # combinator at top level
    # a real document schema: definitions, a local $ref, a nested
    # object and array items all take the document path
    doc_shaped = {
        "definitions": {"link": {"type": "string", "format": "uri"}},
        "type": "object",
        "required": ["id", "url", "fetch"],
        "properties": {
            "id": {"type": "integer", "minimum": 0},
            "url": {"$ref": "#/definitions/link"},
            "fetch": {"type": "object", "required": ["day"],
                      "properties": {"day": {"type": "integer"}}},
            "tags": {"type": "array", "items": {"type": "string"}},
        },
    }
    assert not is_fast_path(doc_shaped)
    _, schemas = _auto_routing_cases()
    routed = [is_fast_path(s) for s in schemas]
    assert routed == [variant_plan(s) is not None for s in schemas]
    assert True in routed and False in routed


def test_fast_path_is_pure_jvm(spark):
    from json_schema_spark.validator.hybrid import validate_json_auto

    df = spark.createDataFrame(
        [(1, '{"doc_id": 1, "lang": "en", "text": "hello world"}')],
        "id long, json string")
    out = validate_json_auto(df, FLAT_SCHEMA, "json", id_col="id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan


def test_fast_and_document_paths_agree(spark):
    """On null-free JSON (to_json drops nulls) the two paths must give
    identical verdicts over the whole documents table."""
    from json_schema_spark.validator.hybrid import validate_json_auto
    from json_schema_spark.validator.json_column import (
        validate_json_column)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    js = docs.select(
        F.monotonically_increasing_id().alias("rid"),
        F.to_json(F.struct("doc_id", "text", "lang", "n_chars"))
         .alias("json"))

    fast = {r["rid"]: r["valid"] for r in
            validate_json_auto(js, FLAT_SCHEMA, "json",
                               id_col="rid").collect()}
    slow = {r["rid"]: r["_validation"]["valid"] for r in
            validate_json_column(js, FLAT_SCHEMA, "json").collect()}
    assert fast == slow
    assert any(not v for v in fast.values())  # corpus has violations
    assert any(v for v in fast.values())


def test_absent_type_routes_to_variant_path(spark):
    """Without an explicit type=object the variant path still tells
    'malformed' from 'valid non-object': an untyped object schema takes
    it, runs no Python, and gives the document path's verdicts —
    non-object roots pass, malformed JSON fails."""
    from json_schema_spark.validator.hybrid import (is_fast_path,
                                                    validate_json_auto)
    from json_schema_spark.validator.json_column import (
        validate_json_column)

    no_type = {k: v for k, v in FLAT_SCHEMA.items() if k != "type"}
    assert is_fast_path(no_type)
    rows = [(1, "not json"), (2, "[1,2,3]"), (3, "42"), (4, "null"),
            (5, '"str"'), (6, "{}"),
            (7, '{"doc_id": 1, "lang": "en", "text": "hello world"}'),
            (8, '{"doc_id": 1, "lang": "xx"}')]
    df = spark.createDataFrame(rows, "id long, json string")
    out = validate_json_auto(df, no_type, "json", id_col="id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan
    fast = {r["id"]: r["valid"] for r in out.collect()}
    slow = {r["id"]: r["_validation"]["valid"] for r in
            validate_json_column(df, no_type, "json").collect()}
    assert fast == slow
    assert fast == {1: False, 2: True, 3: True, 4: True, 5: True,
                    6: False, 7: True, 8: False}


def test_fast_path_malformed_and_nonobject_agree_with_document_path(spark):
    """Unparseable text, scalars, arrays, JSON null: all must fail
    under type=object, exactly like the document path (ADVICE r1,
    high)."""
    from json_schema_spark.validator.hybrid import (is_fast_path,
                                                    validate_json_auto)
    from json_schema_spark.validator.json_column import (
        validate_json_column)

    # no required fields: every property constraint passes on an absent
    # key, so only the root checks can fail these documents
    schema = {"type": "object",
              "properties": {"text": {"type": "string", "minLength": 5}}}
    assert is_fast_path(schema)
    rows = [(1, "not json"), (2, "[1,2,3]"), (3, "42"), (4, "null"),
            (5, '"str"'), (6, "{}"), (7, '{"text": "hello world"}'),
            (8, '{"other": 1}')]
    df = spark.createDataFrame(rows, "id long, json string")
    fast = {r["id"]: r["valid"] for r in
            validate_json_auto(df, schema, "json", id_col="id").collect()}
    slow = {r["id"]: r["_validation"]["valid"] for r in
            validate_json_column(df, schema, "json").collect()}
    assert fast == slow
    assert fast == {1: False, 2: False, 3: False, 4: False, 5: False,
                    6: True, 7: True, 8: True}


def test_fast_path_numeric_type_fidelity(spark):
    """Integer checks accept fraction-free numbers: JSON 1.0 counts as
    integer (reference numeric unification), 1.5 and "abc" fail — same
    verdicts as the document path."""
    from json_schema_spark.validator.hybrid import (is_fast_path,
                                                    validate_json_auto)
    from json_schema_spark.validator.json_column import (
        validate_json_column)

    schema = {"type": "object",
              "properties": {"n": {"type": "integer", "minimum": 10}}}
    assert is_fast_path(schema)
    # past 2^63 too: 1e20 and the 21-digit integer are integers
    rows = [(1, '{"n": 250}'), (2, '{"n": 250.0}'), (3, '{"n": 1.5}'),
            (4, '{"n": "abc"}'), (5, '{"n": 5}'), (6, '{}'),
            (7, '{"n": true}'), (8, '{"n": 1e20}'),
            (9, '{"n": 100000000000000000000}'), (10, '{"n": -1e20}'),
            (11, '{"n": 9.3e18}'), (12, '{"n": 2.5}'), (13, '{"n": 30.0}')]
    df = spark.createDataFrame(rows, "id long, json string")
    fast = {r["id"]: r["valid"] for r in
            validate_json_auto(df, schema, "json", id_col="id").collect()}
    slow = {r["id"]: r["_validation"]["valid"] for r in
            validate_json_column(df, schema, "json").collect()}
    assert fast == slow
    assert fast == {1: True, 2: True, 3: False, 4: False, 5: False,
                    6: True, 7: False, 8: True, 9: True, 10: False,
                    11: True, 12: False, 13: True}


def test_variant_path_exact_document_parity(spark):
    """The variant fast path must agree with the document path on the
    full adversarial matrix: malformed docs, non-object roots, explicit
    null vs absent, numbers-as-strings, union types, format gating."""
    import itertools
    import json

    from json_schema_spark.validator.hybrid import (validate_json_variant,
                                                    variant_plan)
    from json_schema_spark.validator.json_column import (
        validate_json_column)

    schemas = [
        {"type": "object", "required": ["a"],
         "properties": {"a": {"type": "string", "minLength": 3}}},
        {"properties": {"a": {"type": ["integer", "null"],
                              "minimum": 5}}},          # no top-level type
        {"type": "object",
         "properties": {"a": {"enum": ["x", 2, True, None]}}},
        {"type": "object",
         "properties": {"a": {"type": "number", "multipleOf": 0.5}}},
        {"type": "object",
         "properties": {"a": {"format": "ipv4"}}},
        {"type": "object", "required": ["a", "b"]},     # bare required
    ]
    values = ['"xyz"', '"xy"', '"123"', "123", "4", "2", "1.0", "1.5",
              "2.0", "true", "false", "null", '"x"', '"1.2.3.4"',
              '"999.0.0.1"', "[1]", '{"n": 1}']
    docs = (["not json", "42", '"scalar"', "[1,2]", "null", "{}",
             '{"b": 1}', '{"a": null, "b": null}']
            + [f'{{"a": {v}}}' for v in values])
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, json string")

    for si, schema in enumerate(schemas):
        assert variant_plan(schema) is not None, si
        fast = {r["id"]: r["valid"] for r in
                validate_json_variant(df, schema, "json",
                                      id_col="id").collect()}
        slow = {r["id"]: r["_validation"]["valid"] for r in
                validate_json_column(df, schema, "json").collect()}
        diffs = {i: (fast[i], slow[i], docs[i])
                 for i in fast if fast[i] != slow[i]}
        assert not diffs, (si, schema, diffs)
    # sanity: the matrix actually exercises both verdicts
    assert len(set(itertools.chain(fast.values()))) == 2
    json  # keep import


def test_variant_path_multiple_of_beyond_decimal_range(spark):
    """1e30 multipleOf 0.5 is true on the variant path, as on the
    document path, instead of failing the job under ANSI mode."""
    from json_schema_spark.validator.hybrid import validate_json_variant

    df = spark.createDataFrame(
        [(0, '{"a": 1e30}'), (1, '{"a": 1e30, "b": 1e300}'),
         (2, '{"b": 0.25}')], "id long, json string")
    schema = {"type": "object",
              "properties": {"a": {"multipleOf": 0.5},
                             "b": {"multipleOf": 0.5}}}
    assert sorted(tuple(r) for r in validate_json_variant(df, schema)
                  .collect()) == [(0, True), (1, True), (2, False)]


def test_variant_path_null_vs_absent_required(spark):
    """PHP property_exists semantics: required passes on explicit null
    and fails on an absent key."""
    from json_schema_spark.validator.hybrid import validate_json_auto

    schema = {"type": "object", "required": ["a"]}
    df = spark.createDataFrame(
        [(1, '{"a": null}'), (2, "{}"), (3, '{"a": 1}')],
        "id long, json string")
    out = {r["id"]: r["valid"] for r in
           validate_json_auto(df, schema, "json", id_col="id").collect()}
    assert out == {1: True, 2: False, 3: True}


def test_variant_path_string_number_fidelity(spark):
    """'123' (JSON string) is not an integer; 123 is not a string —
    no coercion between JSON types."""
    from json_schema_spark.validator.hybrid import validate_json_auto

    schema = {"type": "object", "properties": {"a": {"type": "string"}}}
    df = spark.createDataFrame(
        [(1, '{"a": "123"}'), (2, '{"a": 123}'), (3, '{"a": {}}'),
         (4, '{"a": []}')],
        "id long, json string")
    out = {r["id"]: r["valid"] for r in
           validate_json_auto(df, schema, "json", id_col="id").collect()}
    assert out == {1: True, 2: False, 3: False, 4: False}


def test_fallback_path_still_validates(spark):
    from json_schema_spark.validator.hybrid import validate_json_auto

    df = spark.createDataFrame(
        [(1, '{"a": [1, 2]}'), (2, '{"a": ["x"]}')],
        "id long, json string")
    out = {r["id"]: r["valid"] for r in
           validate_json_auto(df, NESTED_SCHEMA, "json",
                              id_col="id").collect()}
    assert out == {1: True, 2: False}


def test_variant_path_randomized_parity(spark):
    """Seeded fuzz: 15 random scalar schemas x 40 random docs — variant
    fast path and document path must agree on every verdict."""
    import json
    import random

    from json_schema_spark.validator.hybrid import (validate_json_variant,
                                                    variant_plan)
    from json_schema_spark.validator.json_column import (
        validate_json_column)

    rng = random.Random(20260817)
    type_choices = [["string"], ["integer"], ["number"], ["boolean"],
                    ["null"], ["string", "null"], ["integer", "number"],
                    ["string", "integer"], None]

    def rand_spec():
        spec = {}
        t = rng.choice(type_choices)
        if t:
            spec["type"] = t
        if rng.random() < 0.4:
            spec["minLength"] = rng.randint(0, 6)
        if rng.random() < 0.3:
            spec["pattern"] = rng.choice(["^a", "[0-9]$", "xy"])
        if rng.random() < 0.4:
            spec["minimum"] = rng.randint(-5, 5)
        if rng.random() < 0.3:
            spec["multipleOf"] = rng.choice([2, 0.5, 3])
        if rng.random() < 0.25:
            spec["enum"] = rng.sample(
                ["abc", "xyz", 1, 2, 2.5, True, False, None], k=3)
        return spec

    def rand_value():
        return rng.choice([
            "abc", "a1", "", "xy9", 0, 1, 2, -3, 2.5, 3.0, 1.5, True,
            False, None, [1], {"z": 1}])

    def rand_doc():
        r = rng.random()
        if r < 0.08:
            return "not json {"
        if r < 0.16:
            return json.dumps(rand_value())
        keys = rng.sample(["a", "b", "c"], k=rng.randint(0, 3))
        return json.dumps({k: rand_value() for k in keys})

    docs = [rand_doc() for _ in range(40)]
    df = spark.createDataFrame(list(enumerate(docs)),
                               "id long, json string")
    for si in range(15):
        schema = {"properties": {k: rand_spec()
                                 for k in rng.sample(["a", "b", "c"],
                                                     k=rng.randint(1, 3))}}
        if rng.random() < 0.5:
            schema["type"] = "object"
        if rng.random() < 0.5:
            schema["required"] = rng.sample(["a", "b", "c"], k=1)
        assert variant_plan(schema) is not None, (si, schema)
        fast = {r["id"]: r["valid"] for r in
                validate_json_variant(df, schema, "json",
                                      id_col="id").collect()}
        slow = {r["id"]: r["_validation"]["valid"] for r in
                validate_json_column(df, schema, "json").collect()}
        diffs = {i: (fast[i], slow[i], docs[i])
                 for i in fast if fast[i] != slow[i]}
        assert not diffs, (si, schema, diffs)


def test_variant_plan_rejects_composite_const_enum():
    """Composite const/enum members need deep equality — must route to
    the document path, not silently mis-verdict on the variant path."""
    from json_schema_spark.validator.hybrid import variant_plan

    assert variant_plan({"type": "object", "properties": {
        "a": {"const": {"x": 1}}}}) is None
    assert variant_plan({"type": "object", "properties": {
        "a": {"enum": ["ok", [1, 2]]}}}) is None
    assert variant_plan({"type": "object", "properties": {
        "a": {"enum": ["ok", 1]}}}) is not None


def test_boolean_exclusive_routes_to_document_path(spark):
    """Draft-4 boolean exclusiveMinimum: draft-7 documents path raises
    SchemaError (reference parity); draft-4 validates the rewritten
    strict bound. Fast paths must not swallow either behavior."""
    import pytest

    from json_schema_spark.errors import SchemaError
    from json_schema_spark.validator.hybrid import (validate_json_auto,
                                                    variant_plan)

    schema = {"type": "object",
              "properties": {"a": {"minimum": 5,
                                   "exclusiveMinimum": True}}}
    assert variant_plan(schema) is None
    df = spark.createDataFrame([(1, '{"a": 6}')], "id long, json string")
    with pytest.raises(SchemaError):
        validate_json_auto(df, schema, "json", id_col="id").collect()
    out = {r["id"]: r["valid"] for r in
           validate_json_auto(df, schema, "json", id_col="id",
                              version="4").collect()}
    assert out == {1: True}


def test_variant_path_additional_properties_false(spark):
    """additionalProperties: false is enforced via json_object_keys,
    with the document path's verdicts."""
    from json_schema_spark.validator.hybrid import (validate_json_auto,
                                                    variant_plan)
    from json_schema_spark.validator.json_column import (
        validate_json_column)

    schema = {"type": "object",
              "properties": {"a": {"type": "integer"}},
              "additionalProperties": False}
    assert variant_plan(schema) is not None
    docs = [(1, '{"a": 1}'), (2, '{"a": 1, "b": 2}'), (3, "{}"),
            (4, '{"b": 2}'), (5, "[1]"), (6, "bad")]
    df = spark.createDataFrame(docs, "id long, json string")
    fast = {r["id"]: r["valid"] for r in
            validate_json_auto(df, schema, "json", id_col="id").collect()}
    slow = {r["id"]: r["_validation"]["valid"] for r in
            validate_json_column(df, schema, "json").collect()}
    assert fast == slow
    assert fast == {1: True, 2: False, 3: True, 4: False, 5: False,
                    6: False}

    closed_empty = {"type": "object", "additionalProperties": False}
    fast2 = {r["id"]: r["valid"] for r in
             validate_json_auto(df, closed_empty, "json",
                                id_col="id").collect()}
    slow2 = {r["id"]: r["_validation"]["valid"] for r in
             validate_json_column(df, closed_empty, "json").collect()}
    assert fast2 == slow2


def test_auto_routing_randomized_parity(spark):
    """Fuzz validate_json_auto itself: whatever path a schema routes to
    (variant / document), verdicts must equal the document path —
    including additionalProperties and composite enum members that
    force fallbacks."""
    from json_schema_spark.validator.hybrid import validate_json_auto
    from json_schema_spark.validator.json_column import (
        validate_json_column)

    docs, schemas = _auto_routing_cases()
    df = spark.createDataFrame(list(enumerate(docs)),
                               "id long, json string")
    for si, schema in enumerate(schemas):
        fast = {r["id"]: r["valid"] for r in
                validate_json_auto(df, schema, "json",
                                   id_col="id").collect()}
        slow = {r["id"]: r["_validation"]["valid"] for r in
                validate_json_column(df, schema, "json").collect()}
        diffs = {i: (fast[i], slow[i], docs[i])
                 for i in fast if fast[i] != slow[i]}
        assert not diffs, (si, schema, diffs)


def test_unsafe_property_names_route_to_document_path(spark):
    """Names with '.', '[', '*', quotes, or spaces cannot be literally
    interpolated into variant_get / get_json_object JSON paths ('$.a.b'
    navigates into NESTING) — such schemas must fall back to the
    document path, whose dict lookups are exact for any name.

    Regression for the silently-inverted verdicts: {"a.b": "x"} judged
    invalid and {"a": {"b": "x"}} judged valid by the old variant path.
    """
    from json_schema_spark.validator.hybrid import (validate_json_auto,
                                                    variant_plan)

    schema = {"type": "object",
              "properties": {"a.b": {"type": "string"}},
              "required": ["a.b"]}
    assert variant_plan(schema) is None

    df = spark.createDataFrame(
        [(1, '{"a.b": "x"}'),        # flat key literally named "a.b": VALID
         (2, '{"a": {"b": "x"}}'),   # nested: required "a.b" missing
         (3, '{"a.b": 7}')],         # present but wrong type
        "id long, json string")
    got = {r["id"]: r["valid"]
           for r in validate_json_auto(df, schema, "json",
                                       id_col="id").collect()}
    assert got == {1: True, 2: False, 3: False}

    for bad in ("a[0]", "a*", "a`b", 'a"b', "", "a b"):
        s = {"type": "object", "properties": {bad: {"type": "string"}}}
        assert variant_plan(s) is None, bad

    # plain names (incl. dash/underscore) still take the fast path
    ok = {"type": "object",
          "properties": {"a-b": {"type": "string"},
                         "c_1": {"type": "integer"}},
          "required": ["a-b"]}
    assert variant_plan(ok) is not None
    df2 = spark.createDataFrame(
        [(1, '{"a-b": "x", "c_1": 3}'), (2, '{"c_1": 3}')],
        "id long, json string")
    got2 = {r["id"]: r["valid"]
            for r in validate_json_auto(df2, ok, "json",
                                        id_col="id").collect()}
    assert got2 == {1: True, 2: False}


def test_auto_path_resolves_refs_from_seeded_cache(spark):
    """A schema with a remote $ref routes to the document path and
    resolves from the caller's pre-seeded cache — no network, verdicts
    from the referenced schema."""
    from json_schema_spark.validator.hybrid import validate_json_auto

    cache = {"http://models.example/age.json":
             {"type": "integer", "minimum": 18}}
    schema = {"type": "object",
              "properties": {
                  "age": {"$ref": "http://models.example/age.json"}}}
    df = spark.createDataFrame(
        [(1, '{"age": 21}'), (2, '{"age": 7}'), (3, '{"age": "x"}')],
        "id long, json string")
    got = {r["id"]: r["valid"]
           for r in validate_json_auto(df, schema, "json", id_col="id",
                                       url_cache=cache).collect()}
    assert got == {1: True, 2: False, 3: False}
    # without the cache the ref stays inert (and no network is touched)
    got2 = {r["id"]: r["valid"]
            for r in validate_json_auto(df, schema, "json",
                                        id_col="id").collect()}
    assert got2 == {1: True, 2: True, 3: True}


def test_pair_validation_udf_malformed_rows_are_invalid_not_fatal(spark):
    """Per-row schemas: a malformed data document is an invalid row
    (``invalid JSON: ...``), a malformed schema a ``SCHEMA: ...`` row;
    neither fails the job. The single-schema UDF words a malformed
    document the same way."""
    from json_schema_spark.validator.json_column import (
        json_schema_udf, pair_validation_udf)

    schema = '{"type": "object", "required": ["a"]}'
    df = spark.createDataFrame(
        [(1, schema, '{"a": 1}'), (2, schema, '{"b": 1}'),
         (3, schema, '{oops'), (4, '{"type": ', '{"a": 1}')],
        "id long, schema string, data string")
    udf = pair_validation_udf("7")
    got = {r["id"]: (r["v"]["valid"], r["v"]["error"])
           for r in df.select("id", udf("schema", "data", F.lit(""))
                              .alias("v")).collect()}
    assert got[1] == (True, None)
    assert got[2][0] is False and got[2][1]
    assert not got[2][1].startswith(("invalid JSON", "SCHEMA"))
    assert got[3][0] is False and got[3][1].startswith("invalid JSON: ")
    assert got[4][0] is False and got[4][1].startswith("SCHEMA: ")

    single = json_schema_udf(schema)
    row = df.filter("id = 3").select(single("data").alias("v")).first()
    assert (row["v"]["valid"], row["v"]["error"]) == (False, got[3][1])


def test_pair_validation_udf_null_schema_is_a_schema_row():
    """A row whose schema is SQL NULL is a ``SCHEMA: ...`` row, not a
    failed job; the next row's schema still compiles."""
    import pandas as pd

    from json_schema_spark.validator.json_column import pair_validation_udf

    out = pair_validation_udf("7").func(
        pd.Series([None, "{}"]), pd.Series(["{}", "{}"]),
        pd.Series(["", ""]))
    assert out["valid"].tolist() == [False, True]
    assert out["error"][0].startswith("SCHEMA: ")
    assert out["error"][1] is None
    assert out["rewritten"][0] is None
