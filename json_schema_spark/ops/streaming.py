"""Structured Streaming validation: the same compiled ConstraintSet,
applied to an unbounded stream.

The row-level constraint projection is stateless, so it transfers to
streams unchanged (same Catalyst expressions, same codegen):
- streaming violation feed (`stream_violations`) for an append sink,
- windowed violation counts per constraint with a watermark for late
  events (`violation_counts`) — tumbling event-time windows.

Dataset-level checks (uniqueness, drift) are micro-batch-global, not
stream-global — for stream-global uniqueness use `dropDuplicates` with a
watermark upstream, or reconcile in the batch layer.

Checkpointing is Spark's own streaming checkpoint (offset + state store):
set `checkpointLocation` on the caller's `writeStream` for exactly-once
file output. The foreachBatch novelty filters (`ShardedNovelFilter`,
`StreamingNearNovelFilter`) keep scheme-stamped, batch-versioned state
on disk (`_VersionedState`) and are replay-safe; `StreamingDriftMonitor`
folds counts in driver memory.
"""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_schema_spark.constraints.evaluator import OK_COL, validation_plan
from json_schema_spark.constraints.spec import ConstraintSet
from json_schema_spark.textops.dedup import (
    BLOOM_SCHEME, MINHASH_FAMILY, bloom_probe_shards, build_bloom_shards,
    build_minhash_index, merge_bloom_shards, novel_vs_index)


def stream_violations(stream_df: DataFrame, cset: ConstraintSet,
                      id_col: str = "url",
                      ts_col: str | None = None) -> DataFrame:
    """Streaming violation feed: (id, constraint_id, observed_value,
    event_ts) — append-mode safe (stateless projection + filter), with
    the batch path's row-level annotation and violation rows.

    ``ts_col`` names the event-time column explicitly; when omitted the
    schema must contain at most ONE timestamp column (ambiguity raises
    instead of silently stamping the wrong event time), falling back to
    processing time when there is none."""
    if ts_col is not None:
        ts = F.col(ts_col)
    else:
        ts_cols = [f.name for f in stream_df.schema.fields
                   if f.dataType.typeName() == "timestamp"]
        if len(ts_cols) > 1:
            raise ValueError(
                f"multiple timestamp columns {ts_cols}; pass ts_col=")
        ts = F.col(ts_cols[0]) if ts_cols else F.current_timestamp()
    plan = validation_plan(cset, stream_df.schema, dataset_checks=False,
                           id_col=id_col)
    return (plan.violation_rows(plan.annotate(stream_df), plan.id,
                                ts.alias("event_ts"))
            .select(id_col, "constraint_id", "observed_value", "event_ts"))


def violation_counts(stream_df: DataFrame, cset: ConstraintSet,
                     ts_col: str = "warc_ts",
                     window_duration: str = "1 hour",
                     watermark: str = "2 hours") -> DataFrame:
    """Windowed violation counts per constraint id (``__ok__`` counts the
    passing rows) with late-data tolerance: watermark bounds state,
    tumbling windows aggregate. Output mode `append` emits a window once
    the watermark passes it."""
    plan = validation_plan(cset, stream_df.schema, dataset_checks=False)
    ann = plan.annotate(stream_df).withWatermark(ts_col, watermark)
    ids = (F.when(F.col(OK_COL), F.array(F.lit("__ok__")))
           .otherwise(plan.violation_array["constraint_id"]))
    return (ann
            .select(F.col(ts_col), F.explode(ids).alias("constraint_id"))
            .filter(F.col("constraint_id").isNotNull())
            .groupBy(F.window(F.col(ts_col), window_duration),
                     "constraint_id")
            .agg(F.count(F.lit(1)).alias("n")))


class _VersionedState:
    """Batch-versioned state on disk under ``root``, and the per-batch
    cycle a foreachBatch novelty filter runs over it. A filter supplies
    two hooks: ``novel(batch, state)``, the batch rows not seen in
    ``state``, and ``fold(batch, novel, state)``, the state after the
    batch (``state`` is None on the first batch).

    Version ``<prefix>=<batch_id>`` is a full copy of the state after
    that batch; it counts once its parquet ``_SUCCESS`` marker exists,
    so a torn write is never read and is overwritten when its batch is
    replayed. Per batch: probe the newest complete version BELOW
    ``batch_id``, hand the novel rows to ``sink`` (or count them in
    ``novel_count``), write version ``batch_id`` and delete the older
    versions other than the one probed. The state is versioned by batch
    id the way Spark's own state store is, so the cycle is replay-safe:
    foreachBatch delivers at least once, and a batch re-run after its
    state write (a crash before Spark's commit) probes the same prior
    version, never its own, and hands the sink the same rows. A probe
    reads one version however long the stream, and at most two stay on
    disk. Restart recovery is automatic as long as ``root`` stays with
    the query's checkpoint (batch ids must keep increasing).
    Within-batch duplicates all pass: the probe sees only prior batches.

    ``_scheme.txt`` stamps the settings the state was built under. A
    filter with other settings would read the state with the wrong
    hashes and silently re-emit seen rows (and, for Bloom bits, drop
    novel ones), so a mismatched stamp is refused, and so is a
    directory that holds state but no stamp (an older layout)."""

    # True: the batch has two readers (probe and fold), so it is
    # persisted; False: the novel rows do (sink and fold)
    _fold_reads_batch = False

    def __init__(self, root: str, prefix: str, scheme: str, sink) -> None:
        os.makedirs(root, exist_ok=True)
        stamp = Path(root, "_scheme.txt")
        if stamp.exists():
            found = stamp.read_text().strip()
            if found != scheme:
                raise ValueError(
                    f"{root!r} was written under scheme {found!r} but "
                    f"this filter uses {scheme!r}: its state would be "
                    "read with the wrong hashes; open it with the same "
                    "settings or start from a fresh directory")
        elif os.listdir(root):
            raise ValueError(
                f"{root!r} is not empty but has no scheme stamp (state "
                "from an older layout?); start from a fresh directory")
        else:
            stamp.write_text(scheme)
        self.root = root
        self.prefix = prefix
        self.sink = sink
        self.novel_count = 0
        self.current_epoch = max(self._versions(), default=None)

    def _path(self, version: int) -> str:
        return os.path.join(self.root, f"{self.prefix}={version}")

    def _versions(self) -> list[int]:
        """Batch ids of the complete versions, oldest first."""
        out = []
        for name in os.listdir(self.root):
            m = re.fullmatch(rf"{self.prefix}=(\d+)", name)
            if m and os.path.exists(os.path.join(self.root, name,
                                                 "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        prior = max((v for v in self._versions() if v < batch_id),
                    default=None)
        state = (None if prior is None else
                 batch_df.sparkSession.read.parquet(self._path(prior)))
        held = None
        try:
            if self._fold_reads_batch:
                batch_df = held = batch_df.persist()
            novel = (batch_df if state is None
                     else self.novel(batch_df, state))
            if held is None:
                novel = held = novel.persist()
            if self.sink is not None:
                self.sink(novel, batch_id)
            else:
                self.novel_count += novel.count()
            self.fold(batch_df, novel, state).write.mode("overwrite") \
                .parquet(self._path(batch_id))
            self.current_epoch = batch_id
            for v in self._versions():
                if v < batch_id and v != prior:
                    shutil.rmtree(self._path(v), ignore_errors=True)
        finally:
            if held is not None:
                held.unpersist()


class ShardedNovelFilter(_VersionedState):
    """Cross-micro-batch incremental dedup: a foreachBatch processor
    that emits each key at most once over the stream's lifetime. The
    filter state is a sharded (shard, bloom) PARQUET TABLE under
    ``state_dir`` (``epoch=<batch_id>`` versions) — built, probed
    (cogrouped applyInPandas, one task per touched shard), OR-merged
    and stored entirely on executors/disk, never materialized on the
    driver — so membership state scales to whatever n_shards x
    bits_per_shard the cluster's storage holds (see textops.dedup's
    sharding sizing rule).

    No false negatives: a key never re-emits. False positives at the
    configured rate drop novel keys — a volume pre-filter, not an
    exact dedup. dropDuplicates upstream or in the sink if per-batch
    uniqueness matters.

    Usage::

        f = ShardedNovelFilter(state, sink=lambda df, bid: df.write...)
        q = (stream.writeStream.foreachBatch(f)
             .option("checkpointLocation", ckpt).start())
    """

    _fold_reads_batch = True

    def __init__(self, state_dir: str, key_col: str = "digest",
                 n_shards: int = 16, bits_per_shard: int = 1 << 23,
                 n_hashes: int = 3, sink=None):
        self.key_col = key_col
        self.n_shards = n_shards
        self.bits_per_shard = bits_per_shard
        self.n_hashes = n_hashes
        super().__init__(
            state_dir, "epoch",
            f"{BLOOM_SCHEME} n_shards={n_shards} "
            f"bits_per_shard={bits_per_shard} n_hashes={n_hashes}", sink)

    def novel(self, batch: DataFrame, state: DataFrame) -> DataFrame:
        return (bloom_probe_shards(batch, state, self.key_col,
                                   self.n_shards, self.bits_per_shard,
                                   self.n_hashes)
                .filter(~F.col("_maybe_seen")).drop("_maybe_seen"))

    def fold(self, batch: DataFrame, novel: DataFrame,
             state: DataFrame | None) -> DataFrame:
        fresh = build_bloom_shards(batch, self.key_col, self.n_shards,
                                   self.bits_per_shard, self.n_hashes)
        return fresh if state is None else merge_bloom_shards(state, fresh)


class StreamingNearNovelFilter(_VersionedState):
    """Cross-batch NEAR-dup novelty on the live ingest path: the
    MinHash-LSH analog of ShardedNovelFilter — "have we seen
    something LIKE this" instead of "this exact key". State is the
    persistable LSH bucket index (textops.dedup.build_minhash_index
    rows) under ``index_dir`` (``batch=<batch_id>`` versions), stamped
    with the hash family and (k, num_hashes, bands). Keep-first: only
    NOVEL rows' buckets enter the index (near-dups of an indexed doc
    never do), so state grows with the distinct corpus, not the stream.

    The probe finds candidates only — LSH recall applies: a near-dup
    that shares no band bucket re-emits. near_dedup_corpus the batch
    first if within-batch near-dups matter. Rows whose text yields no
    shingle (< k words) never index and re-emit every batch — route
    them through an exact novel filter first."""

    def __init__(self, index_dir: str, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3,
                 num_hashes: int = 16, bands: int = 4,
                 max_bucket_size: int | None = None, sink=None):
        self.text_col = text_col
        self.id_col = id_col
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.max_bucket_size = max_bucket_size
        super().__init__(
            index_dir, "batch",
            f"{MINHASH_FAMILY} k={k} num_hashes={num_hashes} "
            f"bands={bands}", sink)

    def novel(self, batch: DataFrame, state: DataFrame) -> DataFrame:
        return novel_vs_index(batch, state, self.text_col, self.id_col,
                              k=self.k, num_hashes=self.num_hashes,
                              bands=self.bands,
                              max_bucket_size=self.max_bucket_size)

    def fold(self, batch: DataFrame, novel: DataFrame,
             state: DataFrame | None) -> DataFrame:
        fresh = build_minhash_index(novel, self.text_col, self.id_col,
                                    self.k, self.num_hashes, self.bands)
        return fresh if state is None else state.unionByName(fresh)


class StreamingDriftMonitor:
    """Distribution-drift monitoring on the live ingest path: a
    foreachBatch processor that keeps CUMULATIVE per-(day, category)
    counts across micro-batches and emits per-day PSI and
    Jensen-Shannon divergence against a FIXED baseline frequency map
    after each batch — the streaming face of
    checks.drift.drift_vs_baseline (same formulas, same eps clamp,
    same rounding; once the stream has drained, report() equals the
    batch operator run over the same rows).

    Scale: the heavy work — counting — runs as a per-batch Spark
    aggregation on executors; the driver folds and holds only the
    O(days x categories) count grid (bytes, the same "sketches are
    tiny" contract as the batch drift layer — a web corpus has a few
    hundred langs/categories and a bounded day range). ``sink``
    receives (report_rows, batch_id) after each batch for alert
    routing. Replay-safe: a batch id not above the last one folded (a
    redelivery; ids increase) is not counted again.
    """

    def __init__(self, baseline_freqs: dict[str, float],
                 cat_col: str = "lang", ts_col: str = "ts",
                 eps: float = 1e-6, sink=None):
        self.baseline = dict(baseline_freqs)
        self.cat_col = cat_col
        self.ts_col = ts_col
        self.eps = eps
        self.sink = sink
        self.counts: dict = {}  # (day, cat) -> n
        self.last_batch_id = -1  # the last batch folded into counts

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id > self.last_batch_id:
            rows = (batch_df
                    .select(F.to_date(F.col(self.ts_col)).alias("day"),
                            F.coalesce(F.col(self.cat_col),
                                       F.lit("__null__")).alias("cat"))
                    .groupBy("day", "cat")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect())
            for r in rows:
                key = (r["day"], r["cat"])
                self.counts[key] = self.counts.get(key, 0) + r["n"]
            self.last_batch_id = batch_id
        if self.sink is not None:
            self.sink(self.report(), batch_id)

    def report(self) -> list[dict]:
        """Per-day drift vs the baseline from the cumulative counts:
        [{day, psi, js_divergence}] sorted by day."""
        from json_schema_spark.checks.drift import js_divergence, psi

        by_day: dict = {}
        for (day, cat), n in self.counts.items():
            by_day.setdefault(day, {})[cat] = n
        out = []
        for day in sorted(by_day):
            total = sum(by_day[day].values())
            freqs = {c: n / total for c, n in by_day[day].items()}
            out.append({
                "day": day,
                "psi": round(psi(freqs, self.baseline, self.eps), 6),
                "js_divergence": round(
                    js_divergence(freqs, self.baseline), 6),
            })
        return out

