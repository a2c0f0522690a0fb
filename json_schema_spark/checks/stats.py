"""Single-pass per-column statistics (north_star: "per-column stats —
null-rate, distinct-count via HyperLogLog sketches, min/max, length
histograms — feed uniqueness checks ...").

One `df.agg(...)` pass computes every metric for every profiled column;
Spark's partial+final aggregation makes each metric mergeable across
partitions (HLL++ sketches for approx_count_distinct merge natively), so
the job is a single scan + one tiny all-to-one exchange of sketch bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _is_numeric(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType,
                              T.LongType, T.FloatType, T.DoubleType,
                              T.DecimalType))


def column_profile(df: DataFrame, columns: list[str] | None = None,
                   hll_rsd: float = 0.05) -> DataFrame:
    """Long-form profile: one output row per column with
    (column, n_rows, null_rate, approx_distinct, min, max, avg_length).

    min/max/avg_length are strings/nulls where not applicable. Single scan,
    single agg.
    """
    columns = columns or df.columns
    types = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        dt = types[c]
        col = F.col(c)
        aggs.append(F.avg(col.isNull().cast("double")).alias(f"{c}__null_rate"))
        aggs.append(F.approx_count_distinct(c, rsd=hll_rsd)
                    .alias(f"{c}__approx_distinct"))
        if _is_numeric(dt) or isinstance(dt, (T.TimestampType, T.DateType)):
            aggs.append(F.min(col).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(col).cast("string").alias(f"{c}__max"))
        elif isinstance(dt, T.StringType):
            aggs.append(F.min(F.length(col)).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(F.length(col)).cast("string").alias(f"{c}__max"))
        else:
            aggs.append(F.lit(None).cast("string").alias(f"{c}__min"))
            aggs.append(F.lit(None).cast("string").alias(f"{c}__max"))
        if isinstance(dt, T.StringType):
            aggs.append(F.avg(F.length(col)).alias(f"{c}__avg_length"))
        elif isinstance(dt, T.BinaryType):
            aggs.append(F.avg(F.octet_length(col)).alias(f"{c}__avg_length"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__avg_length"))

    wide = df.agg(*aggs)

    # unpivot the single wide row into long form (stack stays JVM-side)
    stack_parts = ", ".join(
        f"'{c}', `{c}__null_rate`, `{c}__approx_distinct`, `{c}__min`, "
        f"`{c}__max`, `{c}__avg_length`"
        for c in columns)
    return wide.selectExpr(
        "n_rows",
        f"stack({len(columns)}, {stack_parts}) as "
        "(column, null_rate, approx_distinct, min, max, avg_length)"
    ).select("column", "n_rows", "null_rate", "approx_distinct",
             "min", "max", "avg_length")


def length_histogram(df: DataFrame, col: str,
                     bucket_width: int = 100) -> DataFrame:
    """Histogram of string lengths in fixed-width buckets — a groupBy on a
    derived bucket key; partial agg keeps the shuffle at O(buckets)."""
    lengths = df.select(F.length(F.col(col)).alias("_len")).filter(
        F.col("_len").isNotNull())
    return (lengths
            .withColumn("bucket_start",
                        (F.floor(F.col("_len") / bucket_width)
                         * bucket_width).cast("long"))
            .groupBy("bucket_start")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("bucket_start"))


def time_rollup(df, value_col: str, ts_col: str = "ts",
                granularities: tuple[str, ...] = ("day", "hour")):
    """Hypertable-style multi-granularity rollup in ONE pass: for each
    granularity, (grain, bucket_start, n, sum, min, max, avg) — a
    grouping-sets aggregation over pre-truncated bucket columns, so the
    scan and the partial aggregation happen once for all grains instead
    of once per grain.

    Shuffle carries one partial row per (grain, bucket) per task; at
    10^12 rows the output stays O(sum of bucket counts). Valid grains:
    anything date_trunc accepts (year/quarter/month/week/day/hour/
    minute/second)."""
    from pyspark.sql import functions as F

    value = F.col(value_col)
    gcols = [f"_g_{g}" for g in granularities]
    base = (df.filter(F.col(ts_col).isNotNull() & value.isNotNull())
            .select(*[F.date_trunc(g, F.col(ts_col)).alias(f"_g_{g}")
                      for g in granularities],
                    value.alias("_v")))
    agg = (base.groupingSets([[c] for c in gcols], *[F.col(c)
                                                     for c in gcols])
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum("_v"), 2).alias("sum_v"),
                F.min("_v").alias("min_v"), F.max("_v").alias("max_v"),
                F.round(F.avg("_v"), 6).alias("avg_v")))
    grain = None
    for g in granularities:
        cond = F.col(f"_g_{g}").isNotNull()
        grain = F.when(cond, F.lit(g)) if grain is None \
            else grain.when(cond, F.lit(g))
    bucket = F.coalesce(*[F.col(c) for c in gcols])
    return (agg.select(grain.alias("grain"),
                       F.date_format(bucket, "yyyy-MM-dd HH:mm:ss")
                       .alias("bucket_start"),
                       "n", "sum_v", "min_v", "max_v", "avg_v")
            .orderBy("grain", "bucket_start"))
