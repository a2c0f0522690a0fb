"""json_schema_spark — a from-scratch PySpark-native constraint-validation engine.

Generalizes the per-document keyword checks of the reference library
(`agavazov/json-schema`, PHP — see /root/reference/src/Validator.php) into
declarative column-level constraints compiled to Catalyst predicate
expressions, evaluated in a single per-partition pass over web-scale tables,
plus a vectorized (Arrow/pandas-UDF) JSON-document validator for arbitrary
nested JSON columns with full draft-4/6/7 keyword parity.

Design rules (see SURVEY.md):
- Constraints compile to `pyspark.sql.Column` boolean expressions; whole-stage
  codegen does the work. No per-row Python in the hot path.
- pandas UDFs (Arrow-batched) only where SQL can't express the check
  (IDN/IRI formats, PCRE-only regexes, arbitrary nested JSON documents).
- A NULL verdict counts as a failure, applied once where a verdict becomes
  a mask bit (the reference throws ValidationException; we emit a
  violation row). Only a negated or counted sub-verdict is coalesced.
- Table-level checks (uniqueness, referential, stats, drift) are separate
  mergeable aggregations sharing one scan where profitable.
"""

from json_schema_spark.constraints.spec import ConstraintSet
from json_schema_spark.constraints.evaluator import ValidationResult, validate
from json_schema_spark.constraints.formats import register_format
from json_schema_spark.errors import SchemaError, ValidationError

__all__ = [
    "ConstraintSet",
    "ValidationResult",
    "validate",
    "register_format",
    "SchemaError",
    "ValidationError",
]

__version__ = "0.1.0"
