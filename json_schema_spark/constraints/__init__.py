from json_schema_spark.constraints.spec import ConstraintSet
from json_schema_spark.constraints.evaluator import ValidationResult, validate
from json_schema_spark.constraints.formats import register_format

__all__ = [
    "ConstraintSet",
    "ValidationResult",
    "validate",
    "register_format",
]
