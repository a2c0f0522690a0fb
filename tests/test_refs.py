"""$id anchor interning + remote $ref resolution (Ref.php:114-145,
295-333 parity)."""

from __future__ import annotations

import json

import pytest


def test_id_anchor_ref_resolves():
    from json_schema_spark.validator.refs import resolve_refs

    schema = {
        "definitions": {"pos": {"$id": "#positive", "type": "number",
                                "exclusiveMinimum": 0}},
        "properties": {"x": {"$ref": "#positive"}},
    }
    out = resolve_refs(schema)
    assert out["properties"]["x"] is out["definitions"]["pos"]
    assert out["properties"]["x"]["type"] == "number"
    assert out["properties"]["x"]["exclusiveMinimum"] == 0
    assert "$id" not in out["definitions"]["pos"]  # Ref.php:130 unset
    # resolution works on a copy: the caller's schema keeps its $id
    assert schema["definitions"]["pos"]["$id"] == "#positive"


def test_id_anchor_validates_documents():
    """OpenAPI-style component schema referenced by $id anchor — the gap
    VERDICT r1 flagged (the $ref used to stay inert)."""
    from json_schema_spark.validator.document import (DocumentValidator,
                                                      ValidationError,
                                                      compile_schema)

    schema = {
        "type": "object",
        "definitions": {
            "lang": {"$id": "#lang", "type": "string",
                     "enum": ["en", "de"]}},
        "properties": {"lang": {"$ref": "#lang"}},
    }
    cs = compile_schema(schema)
    v = DocumentValidator()
    assert v.validate({"lang": "en"}, cs) == {"lang": "en"}
    for bad in ({"lang": "xx"}, {"lang": 5}):
        with pytest.raises(ValidationError):
            v.validate(bad, cs)


def test_remote_ref_file_url(tmp_path):
    from json_schema_spark.validator.document import compile_schema
    from json_schema_spark.validator.refs import resolve_refs

    remote = tmp_path / "remote.json"
    remote.write_text(json.dumps({"type": "integer", "minimum": 5}))
    url = remote.as_uri()
    schema = {"type": "object", "properties": {"n": {"$ref": url}}}
    out = resolve_refs(schema, fetch_remote=True)
    assert out["properties"]["n"]["minimum"] == 5
    from json_schema_spark.validator.document import (DocumentValidator,
                                                      ValidationError)

    cs = compile_schema({"type": "object",
                         "properties": {"n": {"$ref": url}}},
                        fetch_remote=True)
    v = DocumentValidator()
    assert v.validate({"n": 7}, cs) == {"n": 7}
    with pytest.raises(ValidationError):
        v.validate({"n": 3}, cs)


def test_remote_ref_url_cache(tmp_path):
    """Same URL fetched once per resolution (Ref.php urlCache)."""
    from json_schema_spark.validator.refs import resolve_refs

    remote = tmp_path / "r.json"
    remote.write_text(json.dumps({"type": "string"}))
    url = remote.as_uri()
    cache: dict = {}
    schema = {"properties": {"a": {"$ref": url}, "b": {"$ref": url}}}
    out = resolve_refs(schema, fetch_remote=True, url_cache=cache)
    assert list(cache) == [url]
    # both sites share the cached doc (identity, like referenceStorage)
    assert out["properties"]["a"] is out["properties"]["b"]


def test_remote_ref_errors_are_schema_errors():
    from json_schema_spark.errors import SchemaError
    from json_schema_spark.validator.refs import fetch_remote_schema

    with pytest.raises(SchemaError, match="download problem"):
        fetch_remote_schema("file:///nonexistent/nope.json", {})


def test_remote_fetch_disabled_by_default(tmp_path):
    """Untrusted schemas must not read driver-local files (file://) or
    probe endpoints unless the caller opts in."""
    from json_schema_spark.validator.refs import resolve_refs

    remote = tmp_path / "r.json"
    remote.write_text(json.dumps({"type": "string"}))
    url = remote.as_uri()
    schema = {"properties": {"a": {"$ref": url}}}
    out = resolve_refs(schema)
    assert out["properties"]["a"] == {"$ref": url}  # left inert


def test_resolve_refs_does_not_mutate_caller_schema():
    """Resolution strips $id keys and rewires nodes — on a deep copy,
    never the caller's dict."""
    from json_schema_spark.validator.refs import resolve_refs

    schema = {
        "definitions": {"pos": {"$id": "#positive", "type": "number"}},
        "properties": {"x": {"$ref": "#positive"}},
    }
    import copy
    before = copy.deepcopy(schema)
    out = resolve_refs(schema)
    assert schema == before                      # caller untouched
    assert "$id" not in out["definitions"]["pos"]
    assert out["properties"]["x"] is out["definitions"]["pos"]


def test_base_uri_relative_ref_resolution():
    """RFC 3986 base-URI tracking: a relative $ref resolves against the
    base established by the nearest enclosing $id (official suite
    'Recursive references between schemas'). Beyond the reference, whose
    matching is exact-string only."""
    from json_schema_spark.validator.refs import resolve_refs

    schema = {
        "$id": "http://localhost:1234/tree",
        "type": "object",
        "properties": {
            "nodes": {"type": "array", "items": {"$ref": "node"}}},
        "definitions": {
            "node": {
                "$id": "http://localhost:1234/node",
                "type": "object",
                "properties": {"value": {"type": "number"},
                               "subtree": {"$ref": "tree"}},
                "required": ["value"]}},
    }
    out = resolve_refs(schema)
    node = out["definitions"]["node"]
    assert out["properties"]["nodes"]["items"] is node
    assert node["properties"]["subtree"] is out  # back to the root


def test_base_uri_change_in_subschema():
    from json_schema_spark.validator.refs import resolve_refs

    schema = {
        "$id": "http://localhost:1234/root",
        "allOf": [{"$ref": "http://localhost:1234/nested.json#foo"}],
        "definitions": {
            "A": {"$id": "nested.json",
                  "definitions": {"B": {"$id": "#foo",
                                        "type": "integer"}}}},
    }
    out = resolve_refs(schema)
    assert out["allOf"][0] is out["definitions"]["A"]["definitions"]["B"]


def test_seeded_cache_resolves_meta_schema_without_network():
    """A pre-seeded url_cache is consulted even with fetch_remote=False
    (a cache hit is not a fetch) and pointer refs INSIDE the cached
    document resolve against that document's own root. The cache is
    seeded with the draft-07 meta-schema that jsonschema_specifications
    ships."""
    from importlib.resources import files

    from json_schema_spark.validator.document import (DocumentValidator,
                                                      ValidationError,
                                                      compile_schema)

    meta = files("jsonschema_specifications").joinpath(
        "schemas", "draft7", "metaschema.json")
    cs = compile_schema(
        {"$ref": "http://json-schema.org/draft-07/schema#"},
        url_cache={"http://json-schema.org/draft-07/schema":
                   json.loads(meta.read_text())})
    v = DocumentValidator()
    assert v.validate({"minLength": 1}, cs) == {"minLength": 1}
    with pytest.raises(ValidationError):
        v.validate({"minLength": -1}, cs)


def test_root_pointer_ref_is_cyclic_and_validates():
    from json_schema_spark.validator.document import (DocumentValidator,
                                                      ValidationError,
                                                      compile_schema)

    schema = {"properties": {"foo": {"$ref": "#"}},
              "additionalProperties": False}
    cs = compile_schema(schema)
    v = DocumentValidator()
    assert v.validate({"foo": {"foo": False}}, cs) == {"foo": {"foo": False}}
    with pytest.raises(ValidationError):
        v.validate({"bar": False}, cs)
    with pytest.raises(ValidationError):
        v.validate({"foo": {"bar": False}}, cs)


def test_draft4_id_keyword_interning():
    from json_schema_spark.validator.refs import resolve_refs

    schema = {"allOf": [{"$ref": "#foo"}],
              "definitions": {"A": {"id": "#foo", "type": "integer"}}}
    out = resolve_refs(schema, id_keys=("$id", "id"))
    assert out["allOf"][0] is out["definitions"]["A"]
    # with draft-6/7 keys, `id` is just metadata and the ref stays inert
    out7 = resolve_refs(schema)
    assert out7["allOf"][0] == {"$ref": "#foo"}


def test_resolver_fuzz_random_ref_graphs():
    """Seeded fuzz: random schema trees with random local $refs and $id
    anchors (including dangling refs and cycles) must resolve without
    recursion errors and compile to a schema that validates SOMETHING
    without crashing."""
    import random

    from json_schema_spark.errors import SchemaError, ValidationError
    from json_schema_spark.validator.document import (DocumentValidator,
                                                      compile_schema)

    rnd = random.Random(42)
    for _ in range(60):
        n_defs = rnd.randrange(1, 6)
        names = [f"d{i}" for i in range(n_defs)]

        def leaf():
            return rnd.choice([
                {"type": "integer"}, {"type": "string"},
                {"minimum": rnd.randrange(10)}, True, False, {}])

        def node(depth):
            if depth > 3 or rnd.random() < 0.3:
                return leaf()
            kind = rnd.randrange(4)
            if kind == 0:
                return {"$ref": rnd.choice(
                    ["#", f"#/definitions/{rnd.choice(names)}",
                     "#/definitions/missing", "#foo",
                     "http://nowhere.invalid/x.json"])}
            if kind == 1:
                return {"properties": {
                    f"p{j}": node(depth + 1)
                    for j in range(rnd.randrange(1, 3))}}
            if kind == 2:
                return {"items": node(depth + 1)}
            return {"anyOf": [node(depth + 1)
                              for _ in range(rnd.randrange(1, 3))]}

        schema = {
            "definitions": {nm: node(1) for nm in names},
            "properties": {"x": node(1)},
        }
        if rnd.random() < 0.5:
            # plant an anchor somewhere
            schema["definitions"][names[0]] = {
                "$id": "#foo", "type": "integer"}
        try:
            cs = compile_schema(schema)
        except (SchemaError, RecursionError) as exc:
            assert not isinstance(exc, RecursionError), schema
            continue  # SchemaError on malformed fuzz output is fine
        v = DocumentValidator()
        for data in ({"x": 1}, {"x": "s"}, {}, 7):
            try:
                v.validate(data, cs)
            except ValidationError:
                pass  # verdicts may be anything; crashes may not


def test_same_raw_anchor_in_two_documents_does_not_collide():
    """ADVICE r3 (medium): the root schema and a cached remote both
    carry '$id': '#mine'. Raw-anchor matching is namespaced per
    document, so '#mine' in the root resolves to the ROOT's node even
    when the remote (interned later) also registers '#mine' — and a
    pointer into the remote still reaches the remote's own anchor via
    its absolutized form."""
    from json_schema_spark.validator.refs import resolve_refs

    remote = {
        "definitions": {
            "theirs": {"$id": "#mine", "type": "string"},
        },
        "properties": {"r": {"$ref": "#mine"}},
    }
    cache = {"http://example.com/other.json": remote}
    schema = {
        "definitions": {
            "ours": {"$id": "#mine", "type": "integer"},
        },
        "properties": {
            # forces the remote to intern BEFORE the local anchor ref
            # below is resolved (dict order = resolution order)
            "a": {"$ref": "http://example.com/other.json#/properties/r"},
            "b": {"$ref": "#mine"},
            # absolutized anchor form still reaches the remote's node
            "c": {"$ref": "http://example.com/other.json#mine"},
        },
    }
    out = resolve_refs(schema, url_cache=cache)
    assert out["properties"]["b"]["type"] == "integer"   # root's #mine
    assert out["properties"]["c"]["type"] == "string"    # remote's #mine
    # the remote's own internal '#mine' ref resolved within ITS document
    assert out["properties"]["a"]["type"] == "string"
