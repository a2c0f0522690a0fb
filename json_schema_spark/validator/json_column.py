"""Batch-vectorized JSON-document validation over a Spark column.

The columnar compiler (constraints/compiler.py) covers statically-typed
table columns with zero Python in the hot path. Arbitrary nested JSON
documents are the one surface SQL genuinely can't express (recursive
schemas, speculative combinator branches, rewrite modes), so this module is
the sanctioned pandas-UDF exception (SURVEY.md §7 design invariants): the
schema compiles ONCE on the driver, ships pickled inside the UDF closure,
and each Arrow record batch is validated in a single Python call per batch
— never row-at-a-time py4j.

At 10^12-document scale this path stays embarrassingly parallel: no
shuffle, no driver involvement after planning, and throughput scales with
executor Python workers (spark.sql.execution.arrow.maxRecordsPerBatch
controls batch amortization).
"""

from __future__ import annotations

import json
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_spark.errors import SchemaError, ValidationError
from json_schema_spark.validator.document import (
    CompiledSchema,
    DocumentValidator,
    compile_schema,
)

RESULT_TYPE = T.StructType([
    T.StructField("valid", T.BooleanType()),
    T.StructField("error", T.StringType()),
    T.StructField("rewritten", T.StringType()),
])


def _validate_doc(validator: DocumentValidator, compiled: CompiledSchema,
                  raw: str | None) -> tuple[bool, str | None, str | None]:
    """(valid, error, rewritten) for one JSON text. SQL NULL validates as
    JSON null; malformed JSON is an invalid row, never a task failure."""
    try:
        data = None if raw is None else json.loads(raw)
    except ValueError as exc:
        return False, f"invalid JSON: {exc}", None
    try:
        return True, None, json.dumps(validator.validate(data, compiled))
    except ValidationError as exc:
        return False, str(exc), None
    except SchemaError as exc:  # runtime schema errors (bad format)
        return False, f"SCHEMA: {exc}", None


def json_schema_udf(schema: Any, version: str = "7",
                    mode: int = 0,
                    url_cache: dict | None = None,
                    fetch_remote: bool = False) -> "callable":
    """Build a pandas UDF `json-string -> struct(valid, error, rewritten)`.

    ``schema`` is a decoded JSON Schema (dict/bool) or a JSON string; it is
    compiled eagerly on the driver (SchemaError surfaces before any job
    runs) and the compiled object rides the UDF closure to executors.
    SQL NULL input validates as JSON null (the reference's PHP-null
    convention, tests/run.php:147).
    """
    compiled: CompiledSchema = (
        schema if isinstance(schema, CompiledSchema)
        else compile_schema(schema, version, url_cache=url_cache,
                            fetch_remote=fetch_remote))

    @F.pandas_udf(RESULT_TYPE)
    def _validate(batch: pd.Series) -> pd.DataFrame:
        validator = DocumentValidator(mode)
        return pd.DataFrame(
            [_validate_doc(validator, compiled, raw) for raw in batch],
            columns=RESULT_TYPE.fieldNames())

    return _validate


def pair_validation_udf(version_default: str = "7",
                        url_cache: dict | None = None) -> "callable":
    """pandas UDF ``(schema_json, data_json, modes_csv) -> struct`` for the
    schema-registry case where the schema VARIES per row (multi-tenant
    pipelines, fixture replay). Schemas are compiled on the executor with a
    per-worker cache keyed by schema text, so a batch with k distinct
    schemas compiles k times, not batch-size times.

    ``url_cache`` ships pre-fetched remote documents (e.g. the draft
    meta-schemas) in the UDF closure so remote $refs resolve with zero
    executor I/O; refs to documents not in the cache stay inert
    (executors never open network connections)."""

    @F.pandas_udf(RESULT_TYPE)
    def _validate(schemas: pd.Series, datas: pd.Series,
                  modes: pd.Series) -> pd.DataFrame:
        from json_schema_spark.validator.document import (
            MODE_APPLY_DEFAULTS, MODE_CAST, MODE_REMOVE_ADDITIONALS)

        cache: dict[tuple[str, str], Any] = {}
        rows = []
        for schema_raw, data_raw, mode_raw in zip(schemas, datas, modes):
            mode = MODE_APPLY_DEFAULTS
            for m in (mode_raw or "").split(","):
                if m == "CAST":
                    mode |= MODE_CAST
                elif m == "REMOVE_ADDITIONALS":
                    mode |= MODE_REMOVE_ADDITIONALS
            version = version_default
            key = (schema_raw, version)
            try:
                compiled = cache.get(key)
                if compiled is None:
                    if schema_raw is None:
                        raise SchemaError("schema is NULL")
                    compiled = compile_schema(json.loads(schema_raw), version,
                                              url_cache=url_cache)
                    cache[key] = compiled
            except (SchemaError, ValueError) as exc:
                rows.append((False, f"SCHEMA: {exc}", None))
                continue
            rows.append(_validate_doc(DocumentValidator(mode), compiled,
                                      data_raw))
        return pd.DataFrame(rows, columns=RESULT_TYPE.fieldNames())

    return _validate


def validate_json_column(
    df: DataFrame,
    schema: Any,
    column: str | Column = "json",
    version: str = "7",
    mode: int = 0,
    result_col: str = "_validation",
    url_cache: dict | None = None,
    fetch_remote: bool = False,
) -> DataFrame:
    """Annotate ``df`` with a struct column
    ``result_col = (valid, error, rewritten)`` for ``column``.
    ``url_cache`` pre-seeds remote $ref documents (resolved ONCE on
    the driver at compile time — executors never fetch); opt in to
    network fetches with ``fetch_remote``."""
    col = F.col(column) if isinstance(column, str) else column
    udf = json_schema_udf(schema, version, mode, url_cache, fetch_remote)
    return df.withColumn(result_col, udf(col))


def json_violations(
    df: DataFrame,
    schema: Any,
    column: str | Column = "json",
    id_col: str = "url",
    version: str = "7",
    mode: int = 0,
) -> DataFrame:
    """Violations-shaped output for invalid documents:
    (id, constraint_id, observed_value) — constraint_id carries the failing
    keyword path from the ValidationError."""
    annotated = validate_json_column(df, schema, column, version, mode)
    return (annotated
            .filter(~F.col("_validation.valid"))
            .select(
                F.col(id_col).cast("string").alias(id_col),
                F.coalesce(F.col("_validation.error"),
                           F.lit("unknown")).alias("constraint_id"),
                (F.col(column) if isinstance(column, str) else column)
                .cast("string").alias("observed_value")))
