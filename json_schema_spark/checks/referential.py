"""Referential (allow-list) checks — broadcast anti-join.

The dimension (e.g. the lang allow-list) is tiny; F.broadcast() pins the
join strategy to BroadcastHashJoin so the 10^12-row fact side never
shuffles (north_star: "referential checks via broadcast/hash join against a
lang allow-list dimension")."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_schema_spark.constraints.compiler import matching_scalars


def referential_violations(df: DataFrame, col: str, allowed,
                           id_col: str = "url") -> DataFrame:
    """Rows whose ``col`` value is non-null and NOT in ``allowed``.

    ``allowed`` may be a Python list of values or a one-column DataFrame.
    Returns violation rows (id, constraint_id, observed_value).
    """
    constraint_id = f"{col}.referential"
    if isinstance(allowed, DataFrame):
        dim = allowed.select(F.col(allowed.columns[0]).alias(col)).distinct()
        bad = (df.select(id_col, col)
               .filter(F.col(col).isNotNull())
               .join(F.broadcast(dim), on=col, how="left_anti"))
    else:
        # literal list → pure predicate, no join at all (even cheaper)
        values = matching_scalars(allowed, df.schema[col].dataType)
        bad = (df.select(id_col, col)
               .filter(F.col(col).isNotNull() & ~F.col(col).isin(values)))
    return bad.select(
        F.col(id_col).cast("string").alias(id_col),
        F.lit(constraint_id).alias("constraint_id"),
        F.col(col).cast("string").alias("observed_value"))
