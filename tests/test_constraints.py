"""Columnar constraint engine: keyword semantics on typed columns.

Mirrors the reference's per-keyword runtime checks (SURVEY.md §2.2-2.7)
re-expressed over Spark columns; each test pins the violation set."""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_schema_spark import ConstraintSet, SchemaError, validate


def _violated(spark, rows, schema, columns, **kw):
    df = spark.createDataFrame(rows, schema)
    res = validate(df, ConstraintSet(columns=columns), id_col="id",
                   observe=False, **kw)
    return {(r["id"], r["constraint_id"])
            for r in res.violations().collect()}


# ---- string keywords ------------------------------------------------------

def test_min_max_length_and_nulls_pass(spark):
    rows = [("a", ""), ("b", "xx"), ("c", "xxxxxx"), ("d", None)]
    got = _violated(spark, rows, "id string, s string",
                    {"s": {"minLength": 1, "maxLength": 4}})
    # null passes both (keyword applies to present strings only)
    assert got == {("a", "s.minLength"), ("c", "s.maxLength")}


def test_pattern_is_partial_match(spark):
    # preg_match semantics: unanchored partial match (Validator.php:636)
    rows = [("a", "xxaaxx"), ("b", "bbb")]
    got = _violated(spark, rows, "id string, s string",
                    {"s": {"pattern": "aa"}})
    assert got == {("b", "s.pattern")}


def test_required_vs_type_null(spark):
    rows = [("a", "x"), ("b", None)]
    assert _violated(spark, rows, "id string, s string",
                     {"s": {"required": True}}) == {("b", "s.required")}
    assert _violated(spark, rows, "id string, s string",
                     {"s": {"type": "string"}}) == {("b", "s.type")}
    assert _violated(spark, rows, "id string, s string",
                     {"s": {"type": ["string", "null"]}}) == set()


def test_enum_and_const(spark):
    rows = [("a", "en"), ("b", "xx"), ("c", None)]
    got = _violated(spark, rows, "id string, s string",
                    {"s": {"enum": ["en", "de"]}})
    assert got == {("b", "s.enum")}  # null passes enum (not required)
    got = _violated(spark, rows, "id string, s string",
                    {"s": {"const": "en"}})
    assert got == {("b", "s.const")}


def test_mixed_type_lists_match_by_json_type(spark):
    """A listed value of another JSON type than the column's never
    matches (integer and number unify), and does not make Spark cast
    the column to its type: under ANSI mode that failed the job."""
    rows = [("a", "en", 1), ("b", "1", 2), ("c", None, None)]
    schema = "id string, lang string, n long"
    got = _violated(spark, rows, schema, {
        "lang": {"enum": ["en", 1]},
        "n": {"enum": [1.0, "2", True], "const": "1"}})
    assert got == {("b", "lang.enum"), ("b", "n.enum"),
                   ("a", "n.const"), ("b", "n.const")}
    df = spark.createDataFrame(rows, schema)
    res = validate(df, ConstraintSet(referential={"lang": ["en", 1],
                                                  "n": [2.0, "1"]}),
                   id_col="id")
    assert {(r["id"], r["constraint_id"])
            for r in res.violations().collect()} \
        == {("b", "lang.referential"), ("a", "n.referential")}


def test_lists_of_non_json_values_match_on_their_columns(spark):
    """Dates, datetimes and Decimals have no JSON type: listed on a
    date, timestamp or decimal column they are compared as given."""
    from datetime import date, datetime
    from decimal import Decimal

    d1, d2 = date(2024, 1, 1), date(2024, 1, 2)
    t1, t2 = datetime(2024, 1, 1, 12), datetime(2024, 1, 2, 12)
    rows = [("a", d1, t1, Decimal("1.50")), ("b", d2, t2, Decimal("2.00")),
            ("c", None, None, None)]
    schema = "id string, day date, ts timestamp, amt decimal(10,2)"
    got = _violated(spark, rows, schema, {
        "day": {"enum": [d1], "const": d1},
        "ts": {"enum": [t1], "const": t2},
        "amt": {"enum": [Decimal("1.5"), 7], "const": Decimal("2")}})
    assert got == {("b", "day.enum"), ("b", "day.const"), ("b", "ts.enum"),
                   ("a", "ts.const"), ("b", "amt.enum"), ("a", "amt.const")}
    df = spark.createDataFrame(rows, schema)
    res = validate(df, ConstraintSet(referential={"day": [d1],
                                                  "ts": [t2, None],
                                                  "amt": [Decimal("2")]}),
                   id_col="id")
    assert {(r["id"], r["constraint_id"])
            for r in res.violations().collect()} \
        == {("b", "day.referential"), ("a", "ts.referential"),
            ("a", "amt.referential")}


# every n is a bound; the strings sit at byte lengths n-1, n, 4n-1, 4n
# and 4n+1 of it, where the byte length alone stops deciding
LENGTH_BOUNDS = (0, 1, 2, 3, 7)
# cast(binary as string) keeps these bytes: Spark counts each lead byte
# as one char of 1 to 4 bytes, whatever follows it
INVALID_UTF8 = (b"\xf0", b"\xf0a", b"\xf0\x9f\x98", b"\xff" * 4,
                b"\xc3" * 3, b"\xe2\x82" * 3, b"a\x80\x80\x80",
                b"\xf8\x88\x80\x80\x80", b"\xf0" * 7 + b"a", b"\xed\xa0\x80")


def _length_cases() -> list[str]:
    out = set()
    for n in LENGTH_BOUNDS:
        for nbytes in {n - 1, n, 4 * n - 1, 4 * n, 4 * n + 1} - {-1}:
            for c in ("a", "é", "€", "😀"):
                w = len(c.encode())
                out.add(c * (nbytes // w) + "a" * (nbytes % w))
                out.add("a" * (nbytes % w) + c * (nbytes // w))
    return sorted(out)


def test_length_bound_equals_char_count(spark):
    """minLength/maxLength decide by byte length where it can; on every
    char width, boundary, invalid UTF-8 and null the verdict equals
    ``length(s) >= n`` / ``<= n``, on the compiled and the VARIANT path,
    and the document validator's on valid strings."""
    import json
    from functools import reduce
    from operator import or_

    from json_schema_spark.constraints.compiler import length_keyword
    from json_schema_spark.validator.document import (
        DocumentValidator, ValidationError, compile_schema)
    from json_schema_spark.validator.hybrid import validate_json_variant

    valid = _length_cases()
    raw = [s.encode() for s in valid] + list(INVALID_UTF8) + [None]
    df = spark.createDataFrame(
        [(str(i), b) for i, b in enumerate(raw)], "id string, b binary"
    ).select("id", F.col("b").cast("string").alias("s")).cache()
    s = F.col("s")

    # the helper itself, and that the cases reach all three CASE branches
    mismatch = reduce(or_, [
        ~length_keyword(kw, s, n).eqNullSafe(
            F.length(s) >= n if kw == "minLength" else F.length(s) <= n)
        for n in LENGTH_BOUNDS for kw in ("minLength", "maxLength")])
    assert df.filter(mismatch).collect() == []
    counted = F.octet_length(s).between(2, 4 * 2)
    assert df.filter(counted & (F.length(s) >= 2)).count() > 0
    assert df.filter(counted & (F.length(s) < 2)).count() > 0
    lengths = {r["id"]: (r["k"], r["nbytes"]) for r in df.select(
        "id", F.length(s).alias("k"),
        F.octet_length(s).alias("nbytes")).collect()}
    invalid = [lengths[str(len(valid) + j)] for j in range(len(INVALID_UTF8))]
    assert [nbytes for _, nbytes in invalid] == [len(b) for b in INVALID_UTF8]
    assert any(k < nbytes for k, nbytes in invalid)

    # the compiled path, minLength and maxLength on one column
    cset = ConstraintSet(columns={
        f"s{n}": {"minLength": n, "maxLength": n} for n in LENGTH_BOUNDS})
    wide = df.select("id", *[s.alias(f"s{n}") for n in LENGTH_BOUNDS])
    got = {(r["id"], r["constraint_id"]) for r in validate(
        wide, cset, id_col="id", observe=False).violations().collect()}
    want = {(i, f"s{n}.{kw}")
            for i, (k, _) in lengths.items() if k is not None
            for n in LENGTH_BOUNDS for kw in ("minLength", "maxLength")
            if (k < n if kw == "minLength" else k > n)}
    assert got == want

    # the VARIANT path against the document validator
    docs = spark.createDataFrame(
        [(i, json.dumps({"s": v}, ensure_ascii=False))
         for i, v in enumerate(valid)], "id long, json string")
    schemas = {(kw, n): {"type": "object", "properties": {"s": {kw: n}}}
               for n in LENGTH_BOUNDS for kw in ("minLength", "maxLength")}
    fast = {(r["kw"], r["n"], r["id"]): r["valid"] for r in reduce(
        DataFrame.unionByName,
        [validate_json_variant(docs, schema, "json", id_col="id")
         .select(F.lit(kw).alias("kw"), F.lit(n).alias("n"), "id", "valid")
         for (kw, n), schema in schemas.items()]).collect()}
    for (kw, n), schema in schemas.items():
        compiled = compile_schema(schema)
        for i, v in enumerate(valid):
            try:
                DocumentValidator().validate({"s": v}, compiled)
                slow = True
            except ValidationError:
                slow = False
            exact = len(v) >= n if kw == "minLength" else len(v) <= n
            assert fast[kw, n, i] == slow == exact, (kw, n, v)
    df.unpersist()


# ---- numeric keywords -----------------------------------------------------

def test_numeric_bounds(spark):
    rows = [("a", 1.0), ("b", 5.0), ("c", 10.0), ("d", None)]
    cols = {"v": {"minimum": 1, "maximum": 10,
                  "exclusiveMinimum": 1, "exclusiveMaximum": 10}}
    got = _violated(spark, rows, "id string, v double", cols)
    assert got == {("a", "v.exclusiveMinimum"), ("c", "v.exclusiveMaximum")}


def test_multiple_of_float_scaling(spark):
    # the 0.0075 % 0.0001 parity case (Validator.php:736-747)
    rows = [("a", 0.0075), ("b", 0.00751), ("c", 4.0)]
    got = _violated(spark, rows, "id string, v double",
                    {"v": {"multipleOf": 0.0001}})
    assert got == {("b", "v.multipleOf")}
    got = _violated(spark, rows, "id string, v double",
                    {"v": {"multipleOf": 2}})
    assert got == {("a", "v.multipleOf"), ("b", "v.multipleOf")}


def test_multiple_of_beyond_decimal_range(spark):
    """A value Decimal(38, 12) cannot hold gets a verdict instead of
    failing the job under ANSI mode, the verdict the document path
    gives, also under ``not``."""
    from json_schema_spark.validator.phpsem import multiple_of_ok

    big = [1e30, -3e27, 1e300, 1e26 + 2 ** 35]
    rows = [(f"r{i}", v) for i, v in enumerate(big)] \
        + [("inf", float("inf")), ("nan", float("nan")), ("small", 0.75)]
    for m in (0.5, 0.1, 7.0):
        got = _violated(spark, rows, "id string, v double",
                        {"v": {"multipleOf": m}})
        want = {(i, "v.multipleOf") for i, v in rows
                if not multiple_of_ok(v, m)}
        assert got == want, m
    assert _violated(spark, rows[:1], "id string, v double",
                     {"v": {"multipleOf": 0.5}}) == set()
    assert _violated(spark, rows[:1], "id string, v double",
                     {"v": {"not": {"multipleOf": 0.5}}}) \
        == {("r0", "v.not")}


def test_integer_as_float_rule(spark):
    # 1.0 IS an integer (Check.php:33-41), at any magnitude: floor() of a
    # double is a BIGINT clamped at 2^63, so 1e20 must not be tested by it
    rows = [("a", 1.0), ("b", 1.5), ("c", 1e20), ("d", -1e20),
            ("e", 9.3e18), ("f", 2.5), ("g", 3.0), ("h", float("nan"))]
    got = _violated(spark, rows, "id string, v double",
                    {"v": {"type": "integer"}})
    assert got == {("b", "v.type"), ("f", "v.type"), ("h", "v.type")}
    from decimal import Decimal
    rows = [("a", Decimal("100000000000000000000")), ("b", Decimal(7))]
    got = _violated(spark, rows, "id string, v decimal(21,0)",
                    {"v": {"type": "integer"}})
    assert got == set()


# ---- array keywords -------------------------------------------------------

def test_array_keywords(spark):
    rows = [("a", [1, 2, 3]), ("b", [1, 1]), ("c", []), ("d", None)]
    got = _violated(spark, rows, "id string, a array<int>",
                    {"a": {"minItems": 1, "uniqueItems": True}})
    assert got == {("b", "a.uniqueItems"), ("c", "a.minItems")}


def test_items_and_contains(spark):
    rows = [("a", [1, 2]), ("b", [1, 99])]
    got = _violated(spark, rows, "id string, a array<int>",
                    {"a": {"items": {"maximum": 10}}})
    assert got == {("b", "a.items")}
    got = _violated(spark, rows, "id string, a array<int>",
                    {"a": {"contains": {"minimum": 50}}})
    assert got == {("a", "a.contains")}


def test_tuple_items(spark):
    rows = [("a", ["x", "1"]), ("b", ["toolong", "1"])]
    got = _violated(spark, rows, "id string, a array<string>",
                    {"a": {"items": [{"maxLength": 3}, {"maxLength": 3}]}})
    assert got == {("b", "a.items")}


# ---- combinators ----------------------------------------------------------

def test_combinators(spark):
    rows = [("a", 5.0), ("b", 15.0), ("c", 25.0)]
    cols = {"v": {"anyOf": [{"maximum": 10}, {"minimum": 20}]}}
    assert _violated(spark, rows, "id string, v double", cols) == {
        ("b", "v.anyOf")}
    cols = {"v": {"oneOf": [{"maximum": 10}, {"maximum": 30}]}}
    # a passes both → oneOf fails; c passes exactly one
    assert _violated(spark, rows, "id string, v double", cols) == {
        ("a", "v.oneOf")}
    cols = {"v": {"not": {"minimum": 20}}}
    assert _violated(spark, rows, "id string, v double", cols) == {
        ("c", "v.not")}
    cols = {"v": {"allOf": [{"minimum": 0}, {"maximum": 20}]}}
    assert _violated(spark, rows, "id string, v double", cols) == {
        ("c", "v.allOf")}


def test_if_then_else(spark):
    rows = [("a", 5.0), ("b", 15.0)]
    cols = {"v": {"if": {"minimum": 10}, "then": {"maximum": 12},
                  "else": {"maximum": 4}}}
    # a: if fails → else(max 4) → 5 > 4 fails; b: if passes → then → 15>12
    assert _violated(spark, rows, "id string, v double", cols) == {
        ("a", "v.if"), ("b", "v.if")}


def test_if_then_inside_sub_specs(spark):
    """if/then under allOf, not and array items folds as it does at the
    top level: each wrapper's verdict on "bbbb", "abcd" and "bb" equals
    the document validator's on the same value."""
    from json_schema_spark.validator.document import (
        DocumentValidator, ValidationError, compile_schema)

    cond = {"if": {"minLength": 3}, "then": {"pattern": "^a"}}
    columns = {"s1": {"allOf": [cond]}, "s2": {"not": cond},
               "a": {"items": cond}}
    values = ["bbbb", "abcd", "bb"]
    got = _violated(spark, [(v, v, v, [v]) for v in values],
                    "id string, s1 string, s2 string, a array<string>",
                    columns)
    want = set()
    for col, spec in columns.items():
        compiled = compile_schema(spec)
        for v in values:
            try:
                DocumentValidator().validate([v] if col == "a" else v,
                                             compiled)
            except ValidationError:
                want.add((v, f"{col}.{next(iter(spec))}"))
    assert ("bbbb", "s1.allOf") in want and ("abcd", "s2.not") in want
    assert got == want


def test_dependencies_inside_sub_spec_is_a_schema_error(spark):
    """dependencies names other columns, so it only means something at
    a column's top level; below it the compiler refuses it, with its
    path, instead of dropping it."""
    for spec, path in (
            ({"allOf": [{"dependencies": ["q"]}]},
             "#p/allOf[0]/dependencies"),
            ({"items": {"dependencies": ["q"]}}, "#p/items/dependencies")):
        with pytest.raises(SchemaError) as err:
            _violated(spark, [("a", ["x"], "y")],
                      "id string, p array<string>, q string", {"p": spec})
        assert err.value.path == path


def test_dependencies_list_form(spark):
    rows = [("a", "x", "y"), ("b", "x", None), ("c", None, None)]
    cols = {"p": {"dependencies": ["q"]}}
    got = _violated(spark, rows, "id string, p string, q string", cols)
    assert got == {("b", "p.dependencies")}


# ---- struct / map columns -------------------------------------------------

def test_struct_properties(spark):
    df = spark.createDataFrame(
        [("a", {"name": "ok", "age": 5}), ("b", {"name": "waytoolong", "age": 5})],
        "id string, o struct<name:string, age:int>")
    res = validate(df, ConstraintSet(columns={
        "o": {"properties": {"name": {"maxLength": 5}},
              "requiredProperties": ["name", "age"]}}),
        id_col="id", observe=False)
    got = {(r["id"], r["constraint_id"]) for r in res.violations().collect()}
    assert got == {("b", "o.properties")}


def test_map_property_keywords(spark):
    df = spark.createDataFrame(
        [("a", {"k1": "v"}), ("b", {"k1": "v", "bad key": "v", "k3": "v"})],
        "id string, m map<string,string>")
    res = validate(df, ConstraintSet(columns={
        "m": {"maxProperties": 2, "propertyNames": {"pattern": "^k[0-9]$"}}}),
        id_col="id", observe=False)
    got = {(r["id"], r["constraint_id"]) for r in res.violations().collect()}
    assert got == {("b", "m.maxProperties"), ("b", "m.propertyNames")}


# ---- schema-compile errors (the schema-only fixture analog) ---------------

def test_schema_errors():
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"s": {"minLength": -1}})
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"s": {"minLength": 5, "maxLength": 2}})
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"s": {"type": "unknowntype"}})
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"s": {"nosuchkeyword": 1}})
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"s": {"enum": []}})
    with pytest.raises(SchemaError):
        ConstraintSet(columns={"v": {"minimum": 10, "maximum": 1}})


# ---- defaults -------------------------------------------------------------

def test_apply_defaults(spark):
    rows = [("a", None), ("b", "x")]
    df = spark.createDataFrame(rows, "id string, s string")
    cset = ConstraintSet(columns={"s": {"default": "dflt", "minLength": 1}})
    res = validate(df, cset, id_col="id", observe=False)
    vals = {r["id"]: r["s"] for r in res.valid_rows().collect()}
    assert vals == {"a": "dflt", "b": "x"}


# ---- format smoke (full parity suite lives with the fixture port) ---------

def test_formats_basic(spark):
    rows = [("a", "2020-01-01"), ("b", "2020-13-01"), ("c", None)]
    got = _violated(spark, rows, "id string, s string",
                    {"s": {"format": "date"}})
    assert got == {("b", "s.format")}


def test_unknown_format_is_schema_error(spark):
    df = spark.createDataFrame([("a", "x")], "id string, s string")
    with pytest.raises(SchemaError):
        validate(df, ConstraintSet(columns={"s": {"format": "nope"}}),
                 id_col="id", observe=False)


def test_observe_metrics(spark):
    df = spark.createDataFrame([("a", ""), ("b", "ok")], "id string, s string")
    res = validate(df, ConstraintSet(columns={"s": {"minLength": 1}}),
                   id_col="id", observe=True)
    res.annotated.count()  # any action materializes the observation
    m = res.metrics()
    assert m["rows_total"] == 2
    assert m["rows_failed"] == 1
    assert m["violations_total"] == 1


def test_columnar_additional_items(spark):
    """additionalItems interplay with tuple-form items, columnar path:
    False forbids extras; a schema constrains each extra element."""
    from json_schema_spark import ConstraintSet, validate

    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["a", "b", "c"]), (3, ["a", "b", "xyz"]),
         (4, None)],
        "id long, arr array<string>")
    viol_false = validate(
        df, ConstraintSet(columns={
            "arr": {"items": [{}, {}], "additionalItems": False}}),
        id_col="id", observe=False).violations().collect()
    assert sorted(v["id"] for v in viol_false) == ["2", "3"]

    viol_schema = validate(
        df, ConstraintSet(columns={
            "arr": {"items": [{}, {}],
                    "additionalItems": {"minLength": 3}}}),
        id_col="id", observe=False).violations().collect()
    assert [v["id"] for v in viol_schema] == ["2"]

    # additionalItems alongside single-schema items constrains nothing
    none_v = validate(
        df, ConstraintSet(columns={
            "arr": {"items": {"minLength": 1},
                    "additionalItems": False}}),
        id_col="id", observe=False).violations().collect()
    assert none_v == []


def test_columnar_draft4_boolean_exclusive_form(spark):
    """{"minimum": 5, "exclusiveMinimum": true} (draft-4 boolean form)
    must compile to a strict bound — and the bare flag without a sibling
    bound constrains nothing."""
    from json_schema_spark import ConstraintSet, validate

    df = spark.createDataFrame([(1, 4), (2, 5), (3, 6)],
                               "id long, n long")
    viol = validate(
        df, ConstraintSet(columns={
            "n": {"minimum": 5, "exclusiveMinimum": True}}),
        id_col="id", observe=False).violations().collect()
    assert sorted(v["id"] for v in viol) == ["1", "2"]

    viol_false = validate(
        df, ConstraintSet(columns={
            "n": {"maximum": 5, "exclusiveMaximum": False}}),
        id_col="id", observe=False).violations().collect()
    assert sorted(v["id"] for v in viol_false) == ["3"]

    none_v = validate(
        df, ConstraintSet(columns={"n": {"exclusiveMinimum": True}}),
        id_col="id", observe=False).violations().collect()
    assert none_v == []
