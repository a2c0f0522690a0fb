"""Single-pass constraint evaluation → violations + per-partition verdicts.

Inverts the reference's fail-fast model (its Validator.php:228-235 throws
ValidationException at the first failure): every compiled constraint is
evaluated in ONE projection over ONE scan. Each row gets a bitmask of the
constraints it fails (one ``long`` per MASK_BITS constraints) and an
``_ok`` flag; the violations / verdict outputs are derived views of that
annotated DataFrame. The mask is CASE WHEN and bitwise OR only, so the
projection stays inside whole-stage codegen, and the per-violation structs
are built after the ``_ok`` filter, for failing rows alone. Cost is one
scan, no shuffle for the row-level checks, shuffles only for the
dataset-level checks (uniqueness, referential) which are explicitly
skew-managed.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from operator import add, and_
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from json_schema_spark.constraints.compiler import (
    CompiledConstraint,
    compile_constraints,
)
from json_schema_spark.constraints.spec import ConstraintSet

OK_COL = "_ok"
MASK_PREFIX = "_mask"
# constraints per mask word: a long's bits below the sign bit
MASK_BITS = 63


def apply_defaults(df: DataFrame, cset: ConstraintSet) -> DataFrame:
    """MODE_APPLY_DEFAULTS as a pure transform: null column value → schema
    default (Validator.php:96-105 substitutes and skips further checks; here
    the substituted value simply passes the checks it was designed to pass).
    """
    repl = {}
    for col_name, spec in cset.columns.items():
        if "default" in spec and col_name in df.columns:
            repl[col_name] = F.coalesce(
                F.col(col_name),
                F.lit(spec["default"]).cast(df.schema[col_name].dataType))
    if not repl:
        return df
    return df.withColumns(repl)


def _mask_columns(compiled: list[CompiledConstraint]) -> list[str]:
    """Names of the mask words annotate() adds for ``compiled``."""
    n_words = -(-len(compiled) // MASK_BITS)
    return [f"{MASK_PREFIX}{w}" for w in range(n_words)]


def annotate(df: DataFrame, compiled: list[CompiledConstraint]) -> DataFrame:
    """``df`` plus one mask word per MASK_BITS constraints — bit
    ``i % MASK_BITS`` of word ``i // MASK_BITS`` is set when the row fails
    constraint ``i`` — and ``_ok`` (no bit set)."""
    words = {}
    for name, start in zip(_mask_columns(compiled),
                           range(0, len(compiled), MASK_BITS)):
        bits = [F.when(~c.predicate, F.lit(1 << b)).otherwise(F.lit(0))
                for b, c in enumerate(compiled[start:start + MASK_BITS])]
        words[name] = reduce(Column.bitwiseOR, bits).cast("long")
    ok = reduce(and_, [F.col(w) == 0 for w in words]) if words else F.lit(True)
    return df.withColumns(words).withColumn(OK_COL, ok)


def _violation_count(compiled: list[CompiledConstraint]) -> Column:
    """Number of constraints the annotated row fails."""
    counts = [F.bit_count(F.col(w)) for w in _mask_columns(compiled)]
    return reduce(add, counts, F.lit(0))


def violation_array(compiled: list[CompiledConstraint]) -> Column:
    """One (constraint_id, observed_value) struct per constraint, in
    constraint order, null where the annotated row passes it."""
    if not compiled:
        return F.array().cast(
            "array<struct<constraint_id:string,observed_value:string>>")
    words = _mask_columns(compiled)
    return F.array(*[
        F.when(F.col(words[i // MASK_BITS])
               .bitwiseAND(F.lit(1 << (i % MASK_BITS))) != 0,
               F.struct(F.lit(c.constraint_id).alias("constraint_id"),
                        c.observed.cast("string").alias("observed_value")))
        for i, c in enumerate(compiled)])


def violation_rows(annotated: DataFrame, compiled: list[CompiledConstraint],
                   *cols: Column) -> DataFrame:
    """One row per failed constraint of each failing annotated row, in
    constraint order: ``cols``, then constraint_id and observed_value.
    Passing rows are filtered out before any violation struct is built."""
    exploded = (annotated.filter(~F.col(OK_COL))
                .select(*cols, F.explode(violation_array(compiled))
                        .alias("_v")))
    keep = [c for c in exploded.columns if c != "_v"]
    return exploded.filter(F.col("_v").isNotNull()).select(*keep, "_v.*")


@dataclass
class ValidationResult:
    """Lazy handles over the annotated DataFrame; nothing executes until an
    action. ``observation`` carries scan-free metrics (filled after the
    first action on ``annotated``)."""

    annotated: DataFrame            # input + mask words + _ok flag
    constraints: list[CompiledConstraint]
    cset: ConstraintSet
    id_col: str
    observation: Observation | None
    _dataset_violations: DataFrame | None  # unique/referential (shuffled path)
    _dataset_ids: list[str]

    # -- outputs --------------------------------------------------------
    @property
    def constraint_ids(self) -> list[str]:
        """Every constraint id violations() can emit, row-level first."""
        return [c.constraint_id for c in self.constraints] + self._dataset_ids

    def violations(self) -> DataFrame:
        """(id, constraint_id, observed_value) — row-level violations plus
        dataset-level (uniqueness / referential) ones."""
        row_level = violation_rows(
            self.annotated, self.constraints,
            F.col(self.id_col).cast("string").alias(self.id_col))
        if self._dataset_violations is not None:
            row_level = row_level.unionByName(self._dataset_violations)
        return row_level

    def valid_rows(self) -> DataFrame:
        drop = set(_mask_columns(self.constraints)) | {OK_COL}
        base = [c for c in self.annotated.columns if c not in drop]
        return self.annotated.filter(F.col(OK_COL)).select(*base)

    def partition_verdicts(self, by: Column | str | None = None) -> DataFrame:
        """Per-partition pass/fail — the north_rule's per-partition verdict,
        with the columns of ops.checkpoint.VERDICT_SCHEMA: n_failed_rows
        counts rows failing a row-level constraint, n_violations every
        violations() row, and ``pass`` is n_violations == 0.

        ``by`` defaults to the physical partition id; pass e.g.
        ``F.to_date("warc_ts")`` for logical (Iceberg-style) partitions.
        A dataset-level violation names a row by its id only; it counts
        in that row's partition. When one id names several rows, its
        violations are dealt out over them in partition-key order.
        """
        key = F.spark_partition_id() if by is None \
            else (F.col(by) if isinstance(by, str) else by)
        counts = self.annotated.select(
            key.alias("partition_key"),
            F.lit(1).alias("n_rows"),
            (~F.col(OK_COL)).cast("long").alias("n_failed_rows"),
            _violation_count(self.constraints).cast("long")
            .alias("n_violations"))
        if self._dataset_violations is not None:
            counts = counts.unionByName(self._dataset_counts(key))
        return (counts.groupBy("partition_key")
                .agg(*[F.sum(c).cast("long").alias(c) for c in
                       ("n_rows", "n_failed_rows", "n_violations")])
                .withColumn("pass", F.col("n_violations") == 0))

    def _dataset_counts(self, key: Column) -> DataFrame:
        """Dataset-level violation rows per partition key, in the shape
        of partition_verdicts' per-row counts. The ``n`` violations of
        an id go to its ``m`` rows in key order: row ``r`` (from 0)
        takes n // m, plus one if r < n % m."""
        from pyspark.sql import Window

        per_id = self._dataset_violations.groupBy(
            F.col(self.id_col).alias("_vid")).agg(
                F.count(F.lit(1)).alias("_n"))
        named = (self.annotated
                 .select(key.alias("partition_key"),
                         F.col(self.id_col).cast("string").alias("_id"))
                 .join(per_id, F.col("_id").eqNullSafe(F.col("_vid"))))
        n = F.col("_n")
        m = F.count(F.lit(1)).over(Window.partitionBy("_id"))
        r = F.row_number().over(
            Window.partitionBy("_id").orderBy("partition_key")) - 1
        share = F.floor(n / m) + (r < n % m).cast("long")
        return named.select(
            "partition_key", F.lit(0).alias("n_rows"),
            F.lit(0).cast("long").alias("n_failed_rows"),
            share.cast("long").alias("n_violations"))

    def constraint_summary(self) -> DataFrame:
        """Violation count per constraint_id (one shuffle over the tiny
        exploded violation set)."""
        return (self.violations()
                .groupBy("constraint_id")
                .agg(F.count(F.lit(1)).alias("n_violations"))
                .orderBy("constraint_id"))

    def metrics(self) -> dict[str, Any]:
        """Scan-free metrics recorded by df.observe — valid after any action
        on ``annotated`` (or a derived output)."""
        if self.observation is None:
            return {}
        return dict(self.observation.get)


def _dataset_checks(df: DataFrame, cset: ConstraintSet,
                    id_col: str) -> tuple[DataFrame | None, list[str]]:
    """Dataset-level checks that genuinely need data movement → violation
    rows, and their constraint ids. Uniqueness always shuffles (see
    checks/uniqueness.py for the skew story); referential checks against a
    *DataFrame* dimension broadcast-join. Literal allow-list referentials
    are pure predicates and are fused into the single-pass row-level
    projection instead (see validate()) — zero extra scans for them.
    """
    from json_schema_spark.checks.referential import referential_violations
    from json_schema_spark.checks.uniqueness import uniqueness_violations

    parts: list[DataFrame] = []
    ids: list[str] = []
    for key in cset.unique:
        cols = list(key) if isinstance(key, (list, tuple)) else [key]
        parts.append(uniqueness_violations(df, cols, id_col=id_col))
        ids.append(".".join(cols) + ".unique")
    for col, allowed in cset.referential.items():
        if isinstance(allowed, DataFrame):
            parts.append(referential_violations(df, col, allowed,
                                                id_col=id_col))
            ids.append(f"{col}.referential")
    if not parts:
        return None, ids
    return reduce(DataFrame.unionByName, parts), ids


def _referential_constraints(df: DataFrame,
                             cset: ConstraintSet) -> list[CompiledConstraint]:
    """Literal allow-list referential checks as fused row-level constraints
    (same semantics as checks.referential.referential_violations: non-null
    value outside the list fails)."""
    out = []
    for col_name, allowed in cset.referential.items():
        if isinstance(allowed, DataFrame):
            continue
        if col_name not in df.columns:
            # a typo'd column name must not make the check silently pass
            # — same policy as `required` on a missing column
            # (compiler.compile_constraints): an always-fail constraint
            out.append(CompiledConstraint(
                f"{col_name}.referential", col_name,
                F.lit(False), F.lit(None).cast("string")))
            continue
        col = F.col(col_name)
        pred = F.coalesce(col.isNull() | col.isin(list(allowed)), F.lit(False))
        out.append(CompiledConstraint(
            f"{col_name}.referential", col_name, pred, col.cast("string")))
    return out


def validate(
    df: DataFrame,
    cset: ConstraintSet,
    id_col: str = "url",
    dataset_checks: bool = True,
    observe: bool = True,
) -> ValidationResult:
    """Apply the schema defaults, compile the ConstraintSet against
    ``df``'s schema and build the annotated DataFrame. Pure
    transformation — no action is triggered."""
    df = apply_defaults(df, cset)

    compiled = compile_constraints(cset, df.schema)
    if dataset_checks:
        compiled = compiled + _referential_constraints(df, cset)

    annotated = annotate(df, compiled)

    obs = None
    if observe:
        obs = Observation("jsv_metrics")
        annotated = annotated.observe(
            obs,
            F.count(F.lit(1)).alias("rows_total"),
            F.sum((~F.col(OK_COL)).cast("long")).alias("rows_failed"),
            F.sum(_violation_count(compiled).cast("long"))
             .alias("violations_total"))

    ds_viol, ds_ids = (_dataset_checks(df, cset, id_col) if dataset_checks
                       else (None, []))

    return ValidationResult(
        annotated=annotated,
        constraints=compiled,
        cset=cset,
        id_col=id_col,
        observation=obs,
        _dataset_violations=ds_viol,
        _dataset_ids=ds_ids,
    )
