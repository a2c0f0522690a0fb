"""Rewrite-mode transforms (MODE_CAST / REMOVE_ADDITIONALS / defaults) at
DataFrame granularity."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_cast_columns_scalars(spark):
    from json_schema_spark.constraints.transforms import (
        cast_columns, cast_failures)

    df = spark.createDataFrame(
        [("1", "1.5", "true", "x"),
         ("42", "oops", "0", "7"),
         (None, "2", "yes", "8.5")],
        "a string, b string, c string, d string")
    out = cast_columns(df, {"a": "integer", "b": "number", "c": "boolean"})
    rows = out.collect()
    assert [r["a"] for r in rows] == [1, 42, None]
    assert [r["b"] for r in rows] == [1.5, None, 2.0]
    assert [r["c"] for r in rows] == [True, False, None]
    # d untouched
    assert [r["d"] for r in rows] == ["x", "7", "8.5"]

    fails = cast_failures(df, {"b": "number", "c": "boolean"}).head()
    assert fails["b"] == 1  # 'oops'
    assert fails["c"] == 1  # 'yes'


def test_cast_json_object(spark):
    from json_schema_spark.constraints.transforms import cast_columns

    df = spark.createDataFrame(
        [('{"k": 3}',), ("not json",), (None,)], "props string")
    out = cast_columns(df, {"props": {"object": "k long"}})
    vals = [r["props"]["k"] if r["props"] else None for r in out.collect()]
    assert vals == [3, None, None]


def test_remove_additional_and_defaults(spark):
    from json_schema_spark.constraints.evaluator import apply_defaults
    from json_schema_spark.constraints.spec import ConstraintSet
    from json_schema_spark.constraints.transforms import (
        remove_additional_columns)

    df = spark.createDataFrame([(1, None, "x")],
                               "a long, b string, extra string")
    pruned = remove_additional_columns(df, ["a", "b"])
    assert pruned.columns == ["a", "b"]
    defaulted = apply_defaults(
        pruned, ConstraintSet(columns={"b": {"default": "fallback"}}))
    assert defaulted.head()["b"] == "fallback"


def test_psi_by_period_flags_shifted_day(spark):
    from json_schema_spark.checks.drift import psi_by_period

    rows = []
    # 3 stable days, one shifted day
    for d in range(1, 4):
        rows += [(f"2024-01-0{d} 00:00:00", "a")] * 80
        rows += [(f"2024-01-0{d} 00:00:00", "b")] * 20
    rows += [("2024-01-04 00:00:00", "a")] * 20
    rows += [("2024-01-04 00:00:00", "b")] * 80
    df = spark.createDataFrame(rows, "ts string, cat string") \
              .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {str(r["day"]): r["psi"] for r in
           psi_by_period(df, "cat", "ts").collect()}
    stable = [v for k, v in out.items() if not k.endswith("04")]
    assert all(v < 0.2 for v in stable)
    assert out["2024-01-04"] > 0.5
