"""Checkpoint-resumable validation runs with per-partition lineage.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". The unit of work is one LOGICAL partition (e.g. day(warc_ts) —
the Iceberg partition transform; hive `warc_day=...` dirs in the parquet
stand-in). For each partition the driver:

1. checks the manifest (`<output>/_manifest/<partition>.json`); a
   COMPLETE entry whose constraint-set hash matches is skipped on resume,
2. runs the single-pass validation job restricted to that partition
   (the partition filter prunes at the scan — no other partition is read),
3. writes violations idempotently (`.../partition=<p>/`, overwritten on
   retry), counting them per constraint with df.observe during that one
   write, and writes a one-row verdict built from those counts,
4. atomically (tmp + rename) records the lineage manifest:
   partition value, input files actually read, Iceberg snapshot-id (when
   the source is Iceberg), constraint-set content hash, row/violation
   metrics (from df.observe — no extra scan), wall time.

A killed run restarts with the same command line and re-does only the
partitions without a COMPLETE manifest. Changing the ConstraintSet
invalidates every manifest (hash mismatch) — correctness over laziness.

The driver loop is control-plane only: each iteration submits distributed
jobs; no row data reaches the driver.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from json_schema_spark.constraints.evaluator import validate
from json_schema_spark.constraints.spec import ConstraintSet

STATUS_COMPLETE = "COMPLETE"
# one row per partition; n_failed_rows counts rows failing a row-level
# constraint, n_violations every violation row written (dataset-level too)
VERDICT_SCHEMA = ("partition_key string, n_rows long, n_failed_rows long, "
                  "n_violations long, pass boolean")


@dataclass
class RunStats:
    processed: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    manifests: dict[str, dict[str, Any]] = field(default_factory=dict)


def _manifest_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "_manifest")


def _manifest_path(output_dir: str, partition: str) -> str:
    return os.path.join(_manifest_dir(output_dir), f"{partition}.json")


def read_manifest(output_dir: str, partition: str) -> dict[str, Any] | None:
    path = _manifest_path(output_dir, partition)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None  # torn write -> treat as absent, redo the partition


def write_manifest(output_dir: str, partition: str,
                   manifest: dict[str, Any]) -> None:
    os.makedirs(_manifest_dir(output_dir), exist_ok=True)
    path = _manifest_path(output_dir, partition)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, sort_keys=True, indent=1)
    os.replace(tmp, path)  # atomic on POSIX


def list_partitions(df: DataFrame, partition_col: str) -> list[str]:
    """Distinct logical partition values — metadata-sized job (with hive
    partitioning this is partition discovery, not a data scan)."""
    rows = (df.select(F.col(partition_col).cast("string").alias("p"))
            .distinct().collect())
    return sorted(r["p"] for r in rows if r["p"] is not None)


def input_files_for(df: DataFrame) -> list[str]:
    """Files ACTUALLY read for ``df`` — distinct input_file_name() from
    the filtered plan. df.inputFiles() would list the relation's entire
    file inventory, ignoring partition filters, so every manifest would
    (wrongly) record the whole table as its lineage. Costs one
    metadata-sized job; partition pruning keeps the scan to the
    partition itself."""
    try:
        return sorted(
            r[0] for r in
            df.select(F.input_file_name().alias("f")).distinct().collect()
            if r[0])
    except Exception:
        return []


def run_validation(
    spark: SparkSession,
    df: DataFrame,
    cset: ConstraintSet,
    output_dir: str,
    partition_col: str = "warc_day",
    id_col: str = "url",
    snapshot_id: int | None = None,
    partitions: list[str] | None = None,
) -> RunStats:
    """Validate partition-by-partition with checkpoint/resume semantics.

    Outputs under ``output_dir``:
      violations/partition=<p>/  (id, constraint_id, observed_value)
      verdicts/partition=<p>/    per-partition pass/fail + counts
      _manifest/<p>.json         lineage + metrics
    """
    cset_hash = cset.content_hash()
    stats = RunStats()
    todo = partitions if partitions is not None \
        else list_partitions(df, partition_col)

    for part in todo:
        existing = read_manifest(output_dir, part)
        if (existing
                and existing.get("status") == STATUS_COMPLETE
                and existing.get("constraint_hash") == cset_hash):
            stats.skipped.append(part)
            stats.manifests[part] = existing
            continue

        t0 = time.time()
        part_df = df.filter(F.col(partition_col).cast("string") == part)
        result = validate(part_df, cset, id_col=id_col, observe=True)

        # the written rows, dataset-level ones included, are what the
        # verdict and the manifest count: observed during the one write
        counted = Observation()
        cid = F.col("constraint_id")
        viol_path = os.path.join(output_dir, "violations",
                                 f"partition={part}")
        (result.violations()
         .observe(counted, F.count(F.lit(1)).alias("violations_total"),
                  *[F.count_if(cid == c).alias(c)
                    for c in result.constraint_ids])
         .write.mode("overwrite").parquet(viol_path))

        by_constraint = dict(counted.get)
        rows = result.metrics()
        metrics = {
            "rows_total": int(rows["rows_total"]),
            "rows_failed": int(rows["rows_failed"] or 0),
            "violations_total": int(by_constraint.pop("violations_total")),
            "violations_by_constraint": {
                k: int(v) for k, v in by_constraint.items()},
        }
        verdict_path = os.path.join(output_dir, "verdicts",
                                    f"partition={part}")
        (spark.createDataFrame(
            [(part, metrics["rows_total"], metrics["rows_failed"],
              metrics["violations_total"], metrics["violations_total"] == 0)],
            VERDICT_SCHEMA)
         .write.mode("overwrite").parquet(verdict_path))

        manifest = {
            "partition": part,
            "status": STATUS_COMPLETE,
            "constraint_hash": cset_hash,
            "constraint_set": cset.name,
            "snapshot_id": snapshot_id,
            "input_files": input_files_for(part_df),
            "metrics": metrics,
            "wall_seconds": round(time.time() - t0, 3),
            "outputs": {"violations": viol_path, "verdicts": verdict_path},
        }
        write_manifest(output_dir, part, manifest)
        stats.processed.append(part)
        stats.manifests[part] = manifest

    return stats


def resume_summary(output_dir: str) -> dict[str, Any]:
    """Aggregate view over all partition manifests (ops dashboard food)."""
    mdir = _manifest_dir(output_dir)
    out: dict[str, Any] = {"partitions": 0, "complete": 0,
                           "rows_total": 0, "violations_total": 0}
    if not os.path.isdir(mdir):
        return out
    for name in sorted(os.listdir(mdir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(mdir, name)) as fh:
            m = json.load(fh)
        out["partitions"] += 1
        if m.get("status") == STATUS_COMPLETE:
            out["complete"] += 1
        metrics = m.get("metrics") or {}
        out["rows_total"] += int(metrics.get("rows_total") or 0)
        out["violations_total"] += int(
            metrics.get("violations_total") or 0)
    return out
