"""The benchmark's workloads and the layer probes of its traced run.

Each workload builds its seeded input once (``prepare``), makes untimed
warm-up calls (``warm``) and then timed calls (``call``), one at a time.
Each timed call sits between two reference passes (``reference``): the
same checks written by hand in plain Spark SQL over the same rows, without
the engine.  ``check`` compares every call's and every reference pass's output
with the generator's expectation after the timed loop, and ``layers`` times
the public call into each layer of the engine for the traced run.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from perfbench import inputs
from perfbench.trace import Spans, StageProbe

# generator partitions: two waves of tasks on four cores
PARTITIONS = 8
# the fixed sample whose failing document ids are checked in-process
SAMPLE_IDS = 2000
# warm-up calls of each workload.  Measured on 200k rows: 4.9,
# 3.3, 2.9, 2.9, 2.6, 2.5, 2.4 s for the first calls.  Calls on a small
# slice do not warm the row paths, and cost 1.7 s each, mostly planning.
WARM_CALLS = 3
# warm-up passes of the reference query: with three, its walls still fell
# by a quarter over the first timed passes
REF_WARM_CALLS = 6
# the reference pass's url check, by hand: an http(s) scheme, a host name
# with an optional port, and path characters.  The generator's malformed
# urls lack the scheme or carry '_' and '!' in the host.
REF_AUTHORITY = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
REF_PATH = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
REF_HOST = r"^[A-Za-z0-9.-]+(:[0-9]+)?$"
REF_PATH_CHARS = r"^[A-Za-z0-9._~!$&'()*+,;=:@%/-]*$"
# documents of the validator probe in the traced run
VALIDATOR_DOCS = 20_000


@dataclass
class Ctx:
    spark: Any
    seed: int
    work: str
    spans: Spans
    trace_id: str
    probe: StageProbe | None = None


@dataclass
class Call:
    """One timed call: what it validated and what the check needs, and the
    mean wall and the outputs of the reference passes on either side of it.
    A traced call also has its wall with the probe and span around it."""

    wall: float = 0.0
    ref_wall: float = 0.0
    refs: list[dict[str, int] | None] = field(default_factory=list)
    traced_wall: float = 0.0
    obs: Observation | None = None
    stages: dict[str, int] = field(default_factory=dict)
    docs: int = 0
    ok: bool = False
    raised: bool = False


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def exact(name: str, values) -> Any:
    """The one value that repeats in ``values``: a count that differs
    between calls on the same input fails the run."""
    seen = set(values)
    if len(seen) != 1:
        raise RuntimeError(f"{name} differs between calls: {sorted(seen)}")
    return seen.pop()


def median_time(ctx: Ctx, name: str, reps: int,
                fn: Callable[[], Any]) -> float:
    walls = []
    for _ in range(reps):
        with ctx.spans.span(name, ctx.trace_id) as sp:
            fn()
        walls.append(sp["end"] - sp["start"])
    return statistics.median(walls)


def plan_shape(spark) -> tuple[int, int]:
    """(codegen stages, Project nodes outside whole-stage codegen) of the
    newest SQL execution's final plan.  In the formatted plan a node inside
    codegen is drawn as ``* Name (id)``; AQE's initial plan, drawn after
    the final one, has no codegen yet and is left out."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = execs.apply(execs.size() - 1).physicalPlanDescription()
    tree = plan.split("== Initial Plan ==")[0]
    stages = set(re.findall(r"\[codegen id : (\d+)\]", plan))
    interpreted = set(re.findall(r"^[\s:|+-]*Project \((\d+)\)", tree,
                                 re.MULTILINE))
    return len(stages), len(interpreted)


def count_by_constraint(df: DataFrame, obs: Observation) -> DataFrame:
    """Observe the violation rows per flagship constraint id, no extra scan."""
    cid = F.col("constraint_id")
    return df.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        *[F.sum(F.when(cid == c, 1).otherwise(0)).alias(c)
          for c in inputs.CONSTRAINT_IDS])


def compile_and_plan(ctx: Ctx, df: DataFrame, reps: int) -> dict:
    """Driver-side cost of compiling the flagship set and building and
    planning validate()+violations() over ``df``."""
    from json_schema_spark.constraints.compiler import compile_constraints
    from json_schema_spark.constraints.evaluator import validate
    from json_schema_spark.flagship import webtext_constraints

    cset = webtext_constraints()
    return {
        "constraints.compile_ms": 1000 * median_time(
            ctx, "constraints.compile", reps,
            lambda: compile_constraints(cset, df.schema)),
        "constraints.plan_ms": 1000 * median_time(
            ctx, "constraints.plan", reps,
            lambda: validate(df, cset, id_col="url").violations()
            ._jdf.queryExecution().executedPlan()),
    }


def json_doc_violations(docs: DataFrame) -> DataFrame:
    from json_schema_spark.validator.json_column import json_violations
    return json_violations(docs, inputs.DOC_SCHEMA, column="doc",
                           id_col="id")


def in_process_failing(sample: list[tuple[int, str]]) -> set[int]:
    """Ids of the sample documents the in-process DocumentValidator
    rejects: one core, no Spark."""
    from json_schema_spark.errors import SchemaError, ValidationError
    from json_schema_spark.validator.document import (
        DocumentValidator, compile_schema)

    schema = compile_schema(inputs.DOC_SCHEMA, "7")
    validator = DocumentValidator(0)
    failing = set()
    for doc_id, raw in sample:
        try:
            validator.validate(json.loads(raw), schema)
        except (ValidationError, SchemaError):
            failing.add(doc_id)
    return failing


def validator_probe(ctx: Ctx, flagged: DataFrame) -> dict:
    """The document-validator layer, on VALIDATOR_DOCS nested JSON documents
    built from a workload's rows: schema compile time, in-process speed on
    a fixed sample (one core, no Spark), and Spark throughput by the Arrow
    UDF path and by the columnar fast path (a flat schema).  The UDF path
    must reject exactly the sample documents the in-process validator
    rejects."""
    from json_schema_spark.validator.document import compile_schema
    from json_schema_spark.validator.hybrid import validate_json_auto

    docs = inputs.documents(flagged.filter(F.col("id") < VALIDATOR_DOCS),
                            ctx.seed).cache()
    sample = [(r["id"], r["doc"])
              for r in docs.filter(F.col("id") < SAMPLE_IDS).collect()]
    out = {"validator.compile_ms": 1000 * median_time(
        ctx, "validator.compile", 3,
        lambda: compile_schema(inputs.DOC_SCHEMA, "7"))}
    out["validator.python_docs_per_s"] = len(sample) / median_time(
        ctx, "validator.python", 3, lambda: in_process_failing(sample))
    failing = in_process_failing(sample)
    # also starts the Python workers before the timed UDF pass
    by_udf = {int(r["id"]) for r in json_doc_violations(
        docs.filter(F.col("id") < SAMPLE_IDS)).collect()}
    if by_udf != failing:
        raise RuntimeError(f"UDF path rejects {len(by_udf)} sample documents,"
                           f" the in-process validator {len(failing)}")
    out["validator.udf_docs_per_s"] = VALIDATOR_DOCS / median_time(
        ctx, "validator.udf", 1, lambda: noop(json_doc_violations(docs)))
    out["validator.columnar_docs_per_s"] = VALIDATOR_DOCS / median_time(
        ctx, "validator.columnar", 1, lambda: noop(validate_json_auto(
            docs, inputs.FLAT_SCHEMA, "doc", id_col="id")))
    docs.unpersist(blocking=True)
    return out


def reference_counts(df: DataFrame, dataset_checks: bool) -> dict[str, int]:
    """The reference pass: the flagship's url, text and lang checks, and the
    url-uniqueness count if ``dataset_checks``, written by hand in plain
    Spark SQL over the same rows, without the engine.  It does the same
    kinds of work as the engine's call (regular expressions over every row,
    and a shuffle on url for uniqueness), so a change in the host's speed
    moves both alike.  Returns one count per checked constraint id."""
    url, text, lang = F.col("url"), F.col("text"), F.col("lang")
    url_ok = (url.rlike("^https?://")
              & F.regexp_extract(url, REF_AUTHORITY, 1).rlike(REF_HOST)
              & F.regexp_extract(url, REF_PATH, 1).rlike(REF_PATH_CHARS))
    bad = {
        "url.format": ~F.coalesce(url_ok, F.lit(False)),
        "text.minLength": text.isNotNull() & (
            (F.length(text) < 1) | (F.length(text) > 100_000)
            | ~text.rlike(r"\S")),
        "lang.enum": lang.isNotNull() & ~lang.isin(inputs.LANGS),
    }
    sums = [F.sum(v.cast("long")).alias(k) for k, v in bad.items()]
    if dataset_checks:
        n = F.col("n")
        df = df.groupBy("url").agg(F.count(F.lit(1)).alias("n"), *sums)
        sums = [F.sum(F.when(n > 1, n).otherwise(0)).alias(inputs.UNIQUE_ID),
                *[F.sum(F.col(f"`{k}`")).alias(k) for k in bad]]
    return {k: int(v or 0) for k, v in df.agg(*sums).first().asDict().items()}


def flagship_violations(df: DataFrame) -> DataFrame:
    from json_schema_spark.flagship import validate_webtext
    return validate_webtext(df).violations()


def timed_count(ctx: Ctx, name: str, reps: int,
                make: Callable[[], DataFrame]) -> tuple[float, int]:
    """Median wall of a noop write of ``make()``, and its row count."""
    counts = []

    def run() -> None:
        obs = Observation(f"{name}-{len(counts)}")
        noop(make().observe(obs, F.count(F.lit(1)).alias("rows")))
        counts.append(obs.get["rows"])

    return median_time(ctx, name, reps, run), exact(name, counts)


def row_level_layers(ctx: Ctx, df: DataFrame, reps: int) -> dict:
    """The flagship's layers over ``df``, each through its public call:
    the annotated projection, row-level violations, ``format: uri`` alone,
    url uniqueness, the full call, and the final plan's codegen shape."""
    from json_schema_spark.checks.uniqueness import uniqueness_violations
    from json_schema_spark.constraints.evaluator import validate
    from json_schema_spark.constraints.spec import ConstraintSet
    from json_schema_spark.flagship import webtext_constraints

    cset = webtext_constraints()
    uri_only = ConstraintSet(name="format_uri",
                             columns={"url": {"format": "uri"}})
    out = {
        "constraints.annotate_s": median_time(
            ctx, "constraints.annotate", reps, lambda: noop(validate(
                df, cset, id_col="url", dataset_checks=False).annotated)),
        "constraints.row_violations_s": median_time(
            ctx, "constraints.row_violations", reps, lambda: noop(validate(
                df, cset, id_col="url", dataset_checks=False).violations())),
        "constraints.format_uri_s": median_time(
            ctx, "constraints.format_uri", reps, lambda: noop(validate(
                df, uri_only, id_col="url",
                dataset_checks=False).violations())),
    }
    ctx.probe.mark()
    out["checks.uniqueness_s"], out["checks.dup_rows"] = timed_count(
        ctx, "checks.uniqueness", reps,
        lambda: uniqueness_violations(df, ["url"]))
    out["checks.shuffle_write_bytes"] = \
        ctx.probe.collect()["shuffle_write_bytes"] / reps
    out["flagship.violations_s"], out["flagship.violation_rows"] = \
        timed_count(ctx, "flagship.violations", reps,
                    lambda: flagship_violations(df))
    # the newest SQL execution is the last flagship call
    codegen, interpreted = plan_shape(ctx.spark)
    out["constraints.codegen_stages"] = codegen
    out["constraints.projects_outside_codegen"] = interpreted
    return out


class WebtextValidate:
    """The flagship: validate_webtext over cached webtext, violations into
    a noop sink.  No file I/O and no Python in the timed call."""

    name = "webtext-validate"
    rows = 300_000
    # whether the dataset-level checks (inputs.DATASET_IDS) run
    dataset_checks = True

    def __init__(self) -> None:
        self.df: DataFrame | None = None
        self.flagged: DataFrame | None = None

    def prepare(self, ctx: Ctx) -> None:
        self.flagged = inputs.webtext(ctx.spark, self.rows, ctx.seed,
                                      PARTITIONS)
        self.df = self.flagged.select(*inputs.WEBTEXT_COLUMNS).cache()
        self.df.count()

    def violations(self) -> DataFrame:
        return flagship_violations(self.df)

    def warm(self, ctx: Ctx) -> None:
        for i in range(WARM_CALLS):
            noop(count_by_constraint(self.violations(),
                                     Observation(f"warm-{i}")))
        for _ in range(REF_WARM_CALLS):
            self.reference()

    def reference(self) -> dict[str, int]:
        return reference_counts(self.df, self.dataset_checks)

    def call(self, ctx: Ctx, i: int) -> Call:
        obs = Observation(f"webtext-{i}")
        noop(count_by_constraint(self.violations(), obs))
        return Call(obs=obs)

    def check(self, ctx: Ctx, calls: list[Call]) -> None:
        want = inputs.total(inputs.expected_counts(self.flagged))
        expect = {c: want[c] if self.dataset_checks
                  or c not in inputs.DATASET_IDS else 0
                  for c in inputs.CONSTRAINT_IDS}
        expect["rows"] = sum(expect.values())
        ref_ids = ["url.format", "text.minLength", "lang.enum"]
        if self.dataset_checks:
            ref_ids.append(inputs.UNIQUE_ID)
        ref_expect = {c: want[c] for c in ref_ids}
        for c in calls:
            c.docs = want["rows"]
            c.ok = (c.obs.get == expect
                    and all(r == ref_expect for r in c.refs))

    def layers(self, ctx: Ctx, reps: int = 3) -> dict:
        out = {"sources.scan_s": median_time(ctx, "sources.scan", reps,
                                             lambda: noop(self.df))}
        out.update(compile_and_plan(ctx, self.df, 5))
        out.update(row_level_layers(ctx, self.df, reps))
        out.update(CheckpointProbe(ctx, self.flagged).layers(reps))
        return out


class WebtextRows(WebtextValidate):
    """Row-level constraints only: validate(..., dataset_checks=False)
    over the same cached webtext, violations into a noop sink.  It skips
    the url-uniqueness shuffle (checks.uniqueness) and the lang
    referential check, so a change to those predicts no change here."""

    name = "webtext-rows"
    dataset_checks = False

    def violations(self) -> DataFrame:
        from json_schema_spark.constraints.evaluator import validate
        from json_schema_spark.flagship import webtext_constraints
        return validate(self.df, webtext_constraints(), id_col="url",
                        dataset_checks=False).violations()

    def layers(self, ctx: Ctx, reps: int = 3) -> dict:
        out = {"sources.scan_s": median_time(ctx, "sources.scan", reps,
                                             lambda: noop(self.df))}
        out.update(compile_and_plan(ctx, self.df, 5))
        out.update(validator_probe(ctx, self.flagged))
        return out


class CheckpointProbe:
    """The production path, measured per layer in a traced run: the
    workload's webtext rows written as parquet in 30 warc_day partitions,
    eight files each (one per generator task, like an ingest job of eight
    writers).  After two warm-up runs, each of ``runs`` runs validates
    ``days_per_run`` days into a fresh output directory with
    run_validation, then resumes it, which must skip those days."""

    days_per_run = 2
    runs = 2
    # days of the resumed run; it redoes the last one
    resume_scope = 3

    def __init__(self, ctx: Ctx, flagged: DataFrame) -> None:
        from json_schema_spark.sources.io import read_table

        self.ctx = ctx
        self.flagged = flagged
        path = self._dir("input")
        (flagged.select(*inputs.WEBTEXT_COLUMNS,
                        F.to_date("warc_ts").alias("warc_day"))
         .write.partitionBy("warc_day").parquet(path))
        self.df = read_table(ctx.spark, path)
        self.parts = sorted(d.split("=", 1)[1] for d in os.listdir(path)
                            if d.startswith("warc_day="))

    def _dir(self, name: str) -> str:
        return os.path.join(self.ctx.work, "checkpoint", name)

    def _run(self, out_dir: str, parts: list[str]):
        from json_schema_spark.flagship import webtext_constraints
        from json_schema_spark.ops.checkpoint import run_validation
        return run_validation(self.ctx.spark, self.df, webtext_constraints(),
                              out_dir, partitions=parts)

    def layers(self, reps: int = 3) -> dict:
        from json_schema_spark.ops.checkpoint import (
            input_files_for, list_partitions, write_manifest)

        ctx, k = self.ctx, self.days_per_run
        # the first two runs are slow, on one day as on many
        for i in range(2):
            self._run(self._dir(f"warm-{i}"), self.parts[i:i + 1])
        manifests: dict[str, dict[str, Any]] = {}
        jobs, reads, written = [], [], []
        for i in range(self.runs):
            parts = self.parts[i * k:(i + 1) * k]
            out_dir = self._dir(f"run-{i}")
            ctx.probe.mark()
            with ctx.spans.span("checkpoint.run", ctx.trace_id, i=i):
                first = self._run(out_dir, parts)
            stages = ctx.probe.collect()
            again = self._run(out_dir, parts)
            if first.processed != parts or again.skipped != parts:
                raise RuntimeError(f"run {i} processed {first.processed}, "
                                   f"resumed {again.skipped}, not {parts}")
            manifests.update(first.manifests)
            rows = sum(m["metrics"]["rows_total"]
                       for m in first.manifests.values())
            jobs.append(stages["jobs"] / k)
            reads.append(stages["input_records"] / rows)
            written.append(stages["output_bytes"] / k)
        walls = [m["wall_seconds"] for m in manifests.values()]
        part = self.parts[0]
        part_df = self.df.filter(F.col("warc_day").cast("string") == part)
        out = {
            "checkpoint.manifest_missing_violations": self.check(manifests),
            # the engine's own wall of each day it validated
            "checkpoint.partition_p50_s": statistics.median(walls),
            "checkpoint.partition_max_s": max(walls),
            "checkpoint.jobs_per_partition": exact(
                "checkpoint.jobs_per_partition", jobs),
            "checkpoint.reads_per_row": exact(
                "checkpoint.reads_per_row", reads),
            "checkpoint.bytes_written": statistics.median(written),
            "checkpoint.input_files_s": median_time(
                ctx, "checkpoint.input_files", reps,
                lambda: input_files_for(part_df)),
            "checkpoint.list_partitions_s": median_time(
                ctx, "checkpoint.list_partitions", reps,
                lambda: list_partitions(self.df, "warc_day")),
            "checkpoint.manifest_write_ms": 1000 * median_time(
                ctx, "checkpoint.manifest_write", 5,
                lambda: write_manifest(self._dir("manifests"), part,
                                       manifests[part])),
        }
        out.update(self._resume())
        return out

    def check(self, manifests: dict[str, dict[str, Any]]) -> int:
        """Every day's violation rows equal the generator's expectation and
        its manifest's rows_total the day's size; raises otherwise.
        Returns the violation rows the manifests leave out (a known
        defect: they leave out the dataset-level rows)."""
        expected = inputs.expected_counts(self.flagged)
        # a violation file sits in <run>/violations/partition=<p>/
        parts = F.split(F.input_file_name(), "/")
        where = F.concat_ws("/", F.element_at(parts, -4),
                            F.element_at(parts, -2))
        paths = [m["outputs"]["violations"] for m in manifests.values()]
        written: dict[str, dict[str, int]] = {}
        for r in (self.ctx.spark.read.parquet(*paths)
                  .groupBy(where.alias("at"), "constraint_id")
                  .count().collect()):
            written.setdefault(r["at"], {})[r["constraint_id"]] = r["count"]
        missing = 0
        for part, manifest in manifests.items():
            want = expected[part]
            path = manifest["outputs"]["violations"]
            got = written.get("/".join(path.split("/")[-3::2]), {})
            metrics = manifest["metrics"]
            if (metrics["rows_total"] != want["rows"]
                    or got != {cid: want[cid] for cid in inputs.CONSTRAINT_IDS
                               if want[cid]}):
                raise RuntimeError(f"checkpoint output of {part} is wrong: "
                                   f"{got}, {metrics}, want {want}")
            missing += sum(got.values()) - metrics["violations_total"]
        return missing

    def _resume(self) -> dict:
        """Resume the first run, topped up to ``resume_scope`` days, after
        its last day lost its manifest (a crash before it was recorded):
        redo that day, skip the rest."""
        out_dir = self._dir("run-0")
        scope = self.parts[:self.resume_scope]
        self._run(out_dir, scope)
        redo = scope[-1:]
        os.remove(os.path.join(out_dir, "_manifest", f"{redo[0]}.json"))
        with self.ctx.spans.span("checkpoint.resume",
                                 self.ctx.trace_id) as sp:
            stats = self._run(out_dir, scope)
        if stats.processed != redo:
            raise RuntimeError(f"resume redid {stats.processed}, not {redo}")
        return {"checkpoint.resume_s": sp["end"] - sp["start"],
                "checkpoint.redo_frac": len(stats.processed) / len(scope)}


WORKLOADS = {w.name: w for w in (WebtextValidate, WebtextRows)}
