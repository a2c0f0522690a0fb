"""Dataset-level uniqueness — the scale generalization of `uniqueItems`
(the PHP reference validator checks one in-memory array; here the
"array" is 10^12 urls).

Skew story (north_rule: "partitioning / shuffle / skew handled explicitly"):

1. The count aggregation uses Spark's partial (map-side) aggregation — each
   task emits at most one (key, partial_count) row per distinct key, so even
   a key owning 10% of the table reaches the reducer as ≤ num_tasks rows,
   not 10^11 rows. HashAggregate does this two-phase aggregation itself.
2. When the key is the id column, each duplicated key's violation rows are
   the key repeated dup_count times, so there is no join back. For any
   other key, AQE skew-join splitting (enabled in the session defaults)
   covers the join back to the violating rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keys appearing more than once → (key..., dup_count)."""
    return (df.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("dup_count"))
            .filter(F.col("dup_count") > 1))


def id_duplicate_columns(id_col: str) -> tuple[Column, ...]:
    """The Columns of the id-key branch, built once and applied by
    ``id_duplicate_rows``: the grouping key, the ``dup_count`` aggregate,
    the filter on duplicated non-null keys and the select list that
    repeats each such key ``dup_count`` times."""
    key = F.col(id_col)
    key_str = key.cast("string")
    n = F.col("dup_count")
    return (key, F.count(F.lit(1)).alias("dup_count"),
            key.isNotNull() & (n > 1),
            F.explode(F.array_repeat(key_str, n.cast("int"))).alias(id_col),
            F.lit(f"{id_col}.unique").alias("constraint_id"),
            key_str.alias("observed_value"))


def id_duplicate_rows(df: DataFrame, columns: tuple[Column, ...]) -> DataFrame:
    """uniqueness_violations on the id key, from ``id_duplicate_columns``:
    each duplicated key's rows are n copies of the key, so there is no
    join back to df. One chain of three operators, each one analyzer pass
    on the driver."""
    key, count, duplicated, *rows = columns
    return df.groupBy(key).agg(count).filter(duplicated).select(*rows)


def uniqueness_violations(df: DataFrame, key_cols: list[str],
                          id_col: str = "url") -> DataFrame:
    """Violation rows (id, constraint_id, observed_value) for duplicated
    keys, matching the engine's violations schema: one row per row whose
    key is duplicated. Null keys are never reported."""
    if key_cols == [id_col]:
        return id_duplicate_rows(df, id_duplicate_columns(id_col))
    dups = duplicate_keys(df, key_cols)
    # join back so every duplicated row is reported (the inner join drops
    # null keys; a shuffle join that AQE can split on skew)
    joined = df.select(id_col, *[c for c in key_cols if c != id_col]).join(
        dups, on=key_cols, how="inner")
    return joined.select(
        F.col(id_col).cast("string").alias(id_col),
        F.lit(".".join(key_cols) + ".unique").alias("constraint_id"),
        F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])
         .alias("observed_value"))
