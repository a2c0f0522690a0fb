"""Dev smoke: generate webtext, run the flagship validation, print outputs.
Imports the checkout it sits in: `python scripts/smoke_m1.py`."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_schema_spark.session import get_spark  # noqa: E402
from json_schema_spark.sources.webtext import generate_webtext  # noqa: E402
from json_schema_spark.constraints.evaluator import validate  # noqa: E402
from json_schema_spark.flagship import webtext_constraints  # noqa: E402

spark = get_spark()
df = generate_webtext(spark, 6000)
t0 = time.time()
# the flagship call, observed so that metrics() has its counters
res = validate(df, webtext_constraints(), id_col="url", observe=True)
summary = res.constraint_summary().collect()
print("constraint_summary:")
for r in summary:
    print(f"  {r['constraint_id']}: {r['n_violations']}")
print("metrics:", res.metrics())
verdicts = res.partition_verdicts(by="warc_ts").limit(0)  # schema check only
res.partition_verdicts().show(5, False)
print("day verdicts:")
from pyspark.sql import functions as F
res.partition_verdicts(by=F.to_date("warc_ts")).orderBy("partition_key").show(31, False)
print(f"elapsed: {time.time()-t0:.1f}s")
res.violations().show(5, False)
