"""Single-pass constraint evaluation → violations + per-partition verdicts.

Inverts the reference's fail-fast model (its Validator.php:228-235 throws
ValidationException at the first failure): every compiled constraint is
evaluated in ONE projection over ONE scan. Each row gets a bitmask of the
constraints it fails (one ``long`` per MASK_BITS constraints) and an
``_ok`` flag; the violations / verdict outputs are derived views of that
annotated DataFrame. The mask is CASE WHEN and bitwise OR only, so the
projection stays inside whole-stage codegen, and the per-violation structs
are built under ``when(~_ok)``, for failing rows alone. Cost is one
scan, no shuffle for the row-level checks, shuffles only for the
dataset-level checks (uniqueness, referential) which are explicitly
skew-managed.

Plan cache. Every Column of that pass depends only on the ConstraintSet,
the input schema, ``dataset_checks`` and ``id_col``, never on the
DataFrame: the defaults, the compiled constraints (with the literal
referential ones when ``dataset_checks``), the mask words and ``_ok``, the
violation array, the id column, the ``inline`` generator of the failing
rows' violations and its not-null filter, the three aliased observation
aggregates, and the id key's uniqueness branch (its grouping key, count,
filter and ``explode(array_repeat(...))`` select list). Built from Python,
they cost thousands of Py4J round trips, so ``validation_plan`` builds them
once into a frozen ``ValidationPlan`` and keeps it in a module-level LRU of
PLAN_CACHE_SIZE entries, keyed by ``(cset.content_hash(), schema.json(),
dataset_checks, id_col)`` and the active SparkContext, so a stopped and
restarted session never reuses Columns of the old one. ``register_format``
clears the cache, because a format's builder is baked into the predicates.
A ``validate()`` call then only applies them to the DataFrame: the
``withColumns`` of the defaults and the mask, the select and filter of the
violations, the uniqueness chain, and, when asked, a fresh Observation.
What a call still builds itself are the DataFrame-dimension referential
and non-id uniqueness branches and the union of the outputs.
``compile_constraints`` itself stays uncached.

Observation. ``validate(observe=True)`` adds ``df.observe`` of the three
counters behind ``metrics()``. Its CollectMetrics node has no whole-stage
codegen, so it splits the fused stage and every row, wide text columns
included, leaves compiled code; the default leaves it out.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass
from functools import reduce
from operator import add, and_
from typing import Any

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.observation import Observation

from json_schema_spark.checks.uniqueness import (
    id_duplicate_columns,
    id_duplicate_rows,
    uniqueness_violations,
)
from json_schema_spark.constraints.compiler import (
    CompiledConstraint,
    compile_constraints,
    matching_scalars,
)
from json_schema_spark.constraints.spec import ConstraintSet

OK_COL = "_ok"
MASK_PREFIX = "_mask"
# constraints per mask word: a long's bits below the sign bit
MASK_BITS = 63
# validation plans kept: one per (set, schema, dataset_checks) in use
PLAN_CACHE_SIZE = 32


def _default_columns(cset: ConstraintSet,
                     schema: T.StructType) -> dict[str, Column]:
    """Column name → ``coalesce(col, default)`` for each column of
    ``schema`` whose spec has a default."""
    return {
        col_name: F.coalesce(
            F.col(col_name),
            F.lit(spec["default"]).cast(schema[col_name].dataType))
        for col_name, spec in cset.columns.items()
        if "default" in spec and col_name in schema.names}


def apply_defaults(df: DataFrame, cset: ConstraintSet) -> DataFrame:
    """MODE_APPLY_DEFAULTS as a pure transform: null column value → schema
    default (Validator.php:96-105 substitutes and skips further checks; here
    the substituted value simply passes the checks it was designed to pass).
    """
    repl = _default_columns(cset, df.schema)
    return df.withColumns(repl) if repl else df


def _referential_constraints(cset: ConstraintSet,
                             schema: T.StructType) -> list[CompiledConstraint]:
    """Literal allow-list referential checks as fused row-level constraints
    (same semantics as checks.referential.referential_violations: non-null
    value outside the list fails)."""
    out = []
    for col_name, allowed in cset.referential.items():
        if isinstance(allowed, DataFrame):
            continue
        if col_name not in schema.names:
            # a typo'd column name must not make the check silently pass
            # — same policy as `required` on a missing column
            # (compiler.compile_constraints): an always-fail constraint
            out.append(CompiledConstraint(
                f"{col_name}.referential", col_name,
                F.lit(False), F.lit(None).cast("string")))
            continue
        col = F.col(col_name)
        values = matching_scalars(allowed, schema[col_name].dataType)
        out.append(CompiledConstraint(
            f"{col_name}.referential", col_name,
            col.isNull() | col.isin(values), col.cast("string")))
    return out


@dataclass(frozen=True, eq=False)
class ValidationPlan:
    """Every name-bound Column of validate() for one (ConstraintSet,
    input schema, dataset_checks, id_col), built once by
    ``validation_plan``."""

    defaults: dict[str, Column]            # column → coalesce(col, default)
    constraints: tuple[CompiledConstraint, ...]
    # mask word name → bit ``i % MASK_BITS`` of word ``i // MASK_BITS`` set
    # when the row fails constraint ``i``
    words: dict[str, Column]
    ok: Column                             # no bit set
    violation_count: Column                # constraints the row fails
    observed: tuple[Column, ...]           # the aliased observe() counters
    # one (constraint_id, observed_value) struct per constraint, in
    # constraint order, null where the annotated row passes it
    violation_array: Column
    id: Column                             # id_col as a string
    # inline of the failing rows' violation structs, and the filter
    # dropping the nulls it yields for the constraints a row passes
    failed: Column
    is_violation: Column
    # id_duplicate_columns(id_col) when the set has the id key unique
    id_duplicates: tuple[Column, ...] | None

    def annotate(self, df: DataFrame) -> DataFrame:
        """``df`` plus the mask words and ``_ok``."""
        return df.withColumns(self.words).withColumn(OK_COL, self.ok)

    def violation_rows(self, annotated: DataFrame,
                       *cols: Column) -> DataFrame:
        """One row per failed constraint of each failing annotated row, in
        constraint order: ``cols``, then constraint_id and observed_value.
        No violation struct is built for a passing row.

        The ``~_ok`` test sits inside the projection, not in a Filter:
        with no observation between them, the optimizer would push that
        Filter into the mask's projection and evaluate every predicate
        twice."""
        return (annotated.select(*cols, self.failed)
                .filter(self.is_violation))


def _build_plan(cset: ConstraintSet, schema: T.StructType,
                dataset_checks: bool, id_col: str) -> ValidationPlan:
    compiled = compile_constraints(cset, schema)
    if dataset_checks:
        compiled += _referential_constraints(cset, schema)
    n_words = -(-len(compiled) // MASK_BITS)
    names = [f"{MASK_PREFIX}{w}" for w in range(n_words)]
    words = {}
    for name, start in zip(names, range(0, len(compiled), MASK_BITS)):
        # a NULL verdict sets the bit (compiler.py's null discipline)
        bits = [F.when(c.predicate, F.lit(0)).otherwise(F.lit(1 << b))
                for b, c in enumerate(compiled[start:start + MASK_BITS])]
        words[name] = reduce(Column.bitwiseOR, bits).cast("long")
    ok = reduce(and_, [F.col(w) == 0 for w in names]) if names \
        else F.lit(True)
    count = reduce(add, [F.bit_count(F.col(w)) for w in names], F.lit(0))
    if compiled:
        violations = F.array(*[
            F.when(F.col(names[i // MASK_BITS])
                   .bitwiseAND(F.lit(1 << (i % MASK_BITS))) != 0,
                   F.struct(F.lit(c.constraint_id).alias("constraint_id"),
                            c.observed.cast("string")
                            .alias("observed_value")))
            for i, c in enumerate(compiled)])
    else:
        violations = F.array().cast(
            "array<struct<constraint_id:string,observed_value:string>>")
    return ValidationPlan(
        defaults=_default_columns(cset, schema),
        constraints=tuple(compiled),
        words=words,
        ok=ok,
        violation_count=count,
        observed=(F.count(F.lit(1)).alias("rows_total"),
                  F.sum((~F.col(OK_COL)).cast("long")).alias("rows_failed"),
                  F.sum(count.cast("long")).alias("violations_total")),
        violation_array=violations,
        id=F.col(id_col).cast("string").alias(id_col),
        failed=F.inline(F.when(~F.col(OK_COL), violations)),
        is_violation=F.col("constraint_id").isNotNull(),
        id_duplicates=id_duplicate_columns(id_col)
        if dataset_checks and [id_col] in cset.unique_keys else None)


_PLANS: OrderedDict[tuple, tuple[weakref.ref, ValidationPlan]] = OrderedDict()
_PLANS_LOCK = threading.Lock()


def clear_plan_cache() -> None:
    """Drop every cached ValidationPlan."""
    with _PLANS_LOCK:
        _PLANS.clear()


def validation_plan(cset: ConstraintSet, schema: T.StructType,
                    dataset_checks: bool = True,
                    id_col: str = "url") -> ValidationPlan:
    """The ValidationPlan of ``cset`` over ``schema``, from the LRU when
    this SparkContext has built it before (see the module docstring)."""
    sc = SparkContext._active_spark_context
    key = (id(sc), cset.content_hash(), schema.json(), dataset_checks,
           id_col)
    with _PLANS_LOCK:
        hit = _PLANS.get(key)
        if hit is not None and hit[0]() is sc:
            _PLANS.move_to_end(key)
            return hit[1]
    plan = _build_plan(cset, schema, dataset_checks, id_col)
    with _PLANS_LOCK:
        _PLANS[key] = (weakref.ref(sc), plan)
        _PLANS.move_to_end(key)
        while len(_PLANS) > PLAN_CACHE_SIZE:
            _PLANS.popitem(last=False)
    return plan


@dataclass
class ValidationResult:
    """Lazy handles over the annotated DataFrame; nothing executes until an
    action. ``observation`` carries scan-free metrics (filled after the
    first action on ``annotated``)."""

    annotated: DataFrame            # input + mask words + _ok flag
    plan: ValidationPlan
    cset: ConstraintSet
    id_col: str
    observation: Observation | None
    _dataset_violations: DataFrame | None  # unique/referential (shuffled path)
    _dataset_ids: list[str]

    @property
    def constraints(self) -> list[CompiledConstraint]:
        """The row-level constraints, in mask-bit order."""
        return list(self.plan.constraints)

    # -- outputs --------------------------------------------------------
    @property
    def constraint_ids(self) -> list[str]:
        """Every constraint id violations() can emit, row-level first."""
        return [c.constraint_id for c in self.plan.constraints] \
            + self._dataset_ids

    def violations(self) -> DataFrame:
        """(id, constraint_id, observed_value) — row-level violations plus
        dataset-level (uniqueness / referential) ones."""
        row_level = self.plan.violation_rows(self.annotated, self.plan.id)
        if self._dataset_violations is not None:
            row_level = row_level.unionByName(self._dataset_violations)
        return row_level

    def valid_rows(self) -> DataFrame:
        drop = set(self.plan.words) | {OK_COL}
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
            self.plan.violation_count.cast("long").alias("n_violations"))
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
        on ``annotated`` (or a derived output); empty unless validate()
        was called with ``observe=True``."""
        if self.observation is None:
            return {}
        return dict(self.observation.get)


def _dataset_checks(df: DataFrame, cset: ConstraintSet, id_col: str,
                    plan: ValidationPlan
                    ) -> tuple[DataFrame | None, list[str]]:
    """Dataset-level checks that genuinely need data movement → violation
    rows, and their constraint ids. Uniqueness always shuffles (see
    checks/uniqueness.py for the skew story); the id key's branch is
    applied from the plan's Columns. Referential checks against a
    *DataFrame* dimension broadcast-join. Literal allow-list referentials
    are pure predicates and are fused into the single-pass row-level
    projection instead (see validate()) — zero extra scans for them.
    """
    from json_schema_spark.checks.referential import referential_violations

    parts: list[DataFrame] = []
    ids: list[str] = []
    for cols in cset.unique_keys:
        parts.append(id_duplicate_rows(df, plan.id_duplicates)
                     if cols == [id_col]
                     else uniqueness_violations(df, cols, id_col=id_col))
        ids.append(".".join(cols) + ".unique")
    for col, allowed in cset.referential.items():
        if isinstance(allowed, DataFrame):
            parts.append(referential_violations(df, col, allowed,
                                                id_col=id_col))
            ids.append(f"{col}.referential")
    if not parts:
        return None, ids
    return reduce(DataFrame.unionByName, parts), ids


def validate(
    df: DataFrame,
    cset: ConstraintSet,
    id_col: str = "url",
    dataset_checks: bool = True,
    observe: bool = False,
) -> ValidationResult:
    """Apply the schema defaults and annotate ``df`` with the validation
    plan of ``cset`` over ``df``'s schema (compiled on first use, then
    cached). Pure transformation — no action is triggered.

    ``observe=True`` fills ``metrics()``. It costs a ``CollectMetrics``
    node over every annotated row, which whole-stage codegen does not
    compile, so each row leaves the fused stage; leave it off unless the
    counters are read."""
    plan = validation_plan(cset, df.schema, dataset_checks, id_col)
    if plan.defaults:
        df = df.withColumns(plan.defaults)
    annotated = plan.annotate(df)

    obs = None
    if observe:
        obs = Observation("jsv_metrics")
        annotated = annotated.observe(obs, *plan.observed)

    ds_viol, ds_ids = (_dataset_checks(df, cset, id_col, plan)
                       if dataset_checks else (None, []))

    return ValidationResult(
        annotated=annotated,
        plan=plan,
        cset=cset,
        id_col=id_col,
        observation=obs,
        _dataset_violations=ds_viol,
        _dataset_ids=ds_ids,
    )
