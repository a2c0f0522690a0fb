"""Spark analog of /root/reference/examples/simple-example.php: validate
scalar documents against {"type": "integer", "minimum": 10}.

Two equivalent surfaces:
- document path (exact reference semantics, one Python value at a time);
- columnar path (the scale path: same verdicts as Catalyst predicates
  over a DataFrame column).

Run: python examples/simple_example.py
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_schema_spark import ConstraintSet, validate  # noqa: E402
from json_schema_spark.session import get_spark  # noqa: E402
from json_schema_spark.validator.document import (  # noqa: E402
    DocumentValidator, ValidationError, compile_schema)

SCHEMA = {"type": "integer", "minimum": 10}

# --- document path: one value, reference-exact ---------------------------
cs = compile_schema(SCHEMA)
v = DocumentValidator()
try:
    v.validate(10, cs)
    print("document path: SUCCESS")
except ValidationError as e:
    print("document path FAIL:", e)

# --- columnar path: a whole table in one pass ----------------------------
spark = get_spark(cores=4)
df = spark.createDataFrame([(1, 10), (2, 9), (3, None)], "id long, n long")
res = validate(df, ConstraintSet(columns={"n": {"type": ["integer", "null"],
                                               "minimum": 10}}),
               id_col="id")
res.violations().show()   # row 2 fails n.minimum
spark.stop()
