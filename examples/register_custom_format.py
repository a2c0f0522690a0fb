"""Spark analog of /root/reference/examples/register-custom-format.php:
register an 'objectId' format once, use it in both validation paths.

Run: python examples/register_custom_format.py
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_schema_spark import ConstraintSet, validate  # noqa: E402
from json_schema_spark.constraints.formats import register_format  # noqa: E402
from json_schema_spark.session import get_spark  # noqa: E402
from json_schema_spark.validator.document import (  # noqa: E402
    DocumentValidator, compile_schema)

OBJECT_ID_RX = r"^[a-f\d]{24}$"

# columnar registry: a Column -> boolean-Column builder (stays JVM-side)
register_format("objectId", lambda col: col.rlike("(?i)" + OBJECT_ID_RX))

# document registry: a plain Python predicate
doc_validator = DocumentValidator()
doc_validator.register_format(
    "objectId", lambda s: bool(re.match(OBJECT_ID_RX, s, re.I)))

cs = compile_schema({"type": "string", "format": "objectId"})
print("document path ok:",
      doc_validator.validate("507f191e810c19729de860ea", cs))

spark = get_spark(cores=4)
df = spark.createDataFrame(
    [(1, "507f191e810c19729de860ea"), (2, "nope")], "id long, oid string")
res = validate(df, ConstraintSet(columns={"oid": {"format": "objectId"}}),
               id_col="id")
res.violations().show()   # row 2 fails oid.format
spark.stop()
