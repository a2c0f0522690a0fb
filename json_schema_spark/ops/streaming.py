"""Structured Streaming validation: the same compiled ConstraintSet,
applied to an unbounded stream.

The row-level constraint projection is stateless, so it transfers to
streams unchanged (same Catalyst expressions, same codegen):
- streaming violation feed (`stream_violations`) for an append sink,
- windowed violation counts per constraint with a watermark for late
  events (`violation_counts`) — tumbling event-time windows,
- per-host running violation state (`host_violation_monitor`) and
  watermarked sessionization (`stream_sessions`).

Dataset-level checks (uniqueness, drift) are micro-batch-global, not
stream-global — for stream-global uniqueness use `dropDuplicates` with a
watermark upstream, or reconcile in the batch layer.

Checkpointing is Spark's own streaming checkpoint (offset + state store):
set `checkpointLocation` on the caller's `writeStream` for exactly-once
file output. The foreachBatch novelty filters (`ShardedNovelFilter`,
`StreamingNearNovelFilter`) keep batch-versioned state on disk and are
replay-safe; `StreamingDriftMonitor` folds counts in driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_schema_spark.constraints.evaluator import OK_COL, validation_plan
from json_schema_spark.constraints.spec import ConstraintSet


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


def host_violation_monitor(stream_df: DataFrame, cset: ConstraintSet,
                           url_col: str = "url") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-host CUMULATIVE row/violation counts across micro-batches.

    Built-in windowed aggregation forgets state outside the window; this
    keeps a running (rows_total, rows_failed) per host for the lifetime
    of the query — the "is this host degrading?" monitor. State is two
    longs per host (bounded by host cardinality); per batch the Arrow
    path hands each host's rows to one Python call.
    """
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout)
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType)

    ann = validation_plan(cset, stream_df.schema,
                          dataset_checks=False).annotate(stream_df)
    hosted = ann.select(
        F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.\-]*://([^/]*)",
                         1).alias("host"),
        F.col("_ok"))

    out_type = StructType([
        StructField("host", StringType()),
        StructField("rows_total", LongType()),
        StructField("rows_failed", LongType()),
    ])
    state_type = StructType([
        StructField("rows_total", LongType()),
        StructField("rows_failed", LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        import pandas as pd
        total, failed = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            total += len(pdf)
            failed += int((~pdf["_ok"]).sum())
        state.update((total, failed))
        yield pd.DataFrame({"host": [key[0]], "rows_total": [total],
                            "rows_failed": [failed]})

    return (hosted.groupBy("host")
            .applyInPandasWithState(update, out_type, state_type,
                                    "update",
                                    GroupStateTimeout.NoTimeout))


def _complete_versions(root: str, prefix: str) -> list[int]:
    """Sorted batch ids of the complete ``<prefix>=<id>`` directories
    under ``root``: those whose parquet ``_SUCCESS`` marker exists. A
    torn write has no marker, is never read, and is overwritten when
    its batch is replayed."""
    import os
    import re

    out = []
    for name in os.listdir(root):
        m = re.fullmatch(rf"{prefix}=(\d+)", name)
        if m and os.path.exists(os.path.join(root, name, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def _latest_version(root: str, prefix: str,
                    below: int | None = None) -> int | None:
    """The newest complete version under ``root`` (below ``below``)."""
    return max((v for v in _complete_versions(root, prefix)
                if below is None or v < below), default=None)


def _prune_versions(root: str, prefix: str, below: int,
                    keep: int | None) -> None:
    """Delete the complete versions below ``below`` other than ``keep``
    — the one a replay of batch ``below`` probes. Each version is a
    full state copy, so at most two stay on disk."""
    import os
    import shutil

    for v in _complete_versions(root, prefix):
        if v < below and v != keep:
            shutil.rmtree(os.path.join(root, f"{prefix}={v}"),
                          ignore_errors=True)


class ShardedNovelFilter:
    """Cross-micro-batch incremental dedup: a foreachBatch processor
    that emits each key at most once over the stream's lifetime. The
    filter state is a sharded (shard, bloom) PARQUET TABLE under
    ``state_dir`` — built, probed, merged and stored entirely on
    executors/disk, never materialized on the driver — so membership
    state scales to whatever n_shards x bits_per_shard the cluster's
    storage holds (see textops.dedup's sharding sizing rule).

    Per batch: probe the batch against the newest complete epoch
    BELOW ``batch_id`` (cogrouped applyInPandas — one task per touched
    shard), hand the definitely-novel rows to ``sink``, then OR-merge
    the batch's shard bitmaps into ``state_dir/epoch=<batch_id>``, and
    delete the epochs below it other than the one probed. State is
    versioned by batch id the way Spark's own state store is, so the
    processor is replay-safe: foreachBatch delivers at least once,
    and a batch re-run after its state write (crash before Spark's
    commit) probes the same prior epoch and hands the sink the same
    rows. An epoch
    counts once its parquet ``_SUCCESS`` marker exists; a torn write
    is ignored and overwritten by the replay. Restart recovery is
    automatic, as long as ``state_dir`` stays with the query's
    checkpoint (batch ids must keep increasing).

    No false negatives: a key never re-emits. False positives at the
    configured rate drop novel keys — a volume pre-filter, not an
    exact dedup. Within-batch duplicates all pass (the probe sees only
    prior batches): dropDuplicates upstream or in the sink if
    per-batch uniqueness matters.

    Usage::

        f = ShardedNovelFilter(state, sink=lambda df, bid: df.write...)
        q = (stream.writeStream.foreachBatch(f)
             .option("checkpointLocation", ckpt).start())
    """

    def __init__(self, state_dir: str, key_col: str = "digest",
                 n_shards: int = 16, bits_per_shard: int = 1 << 23,
                 n_hashes: int = 3, sink=None):
        import os

        from json_schema_spark.textops.dedup import BLOOM_SCHEME

        self.state_dir = state_dir
        self.key_col = key_col
        self.n_shards = n_shards
        self.bits_per_shard = bits_per_shard
        self.n_hashes = n_hashes
        self.sink = sink
        self.novel_count = 0
        os.makedirs(state_dir, exist_ok=True)
        # refuse state built under another position scheme or layout:
        # the bitmaps would be read as if they were this filter's, and
        # probing the wrong bits silently re-emits seen keys AND drops
        # novel ones
        scheme = (f"{BLOOM_SCHEME} n_shards={n_shards} "
                  f"bits_per_shard={bits_per_shard} n_hashes={n_hashes}")
        marker = os.path.join(state_dir, "_scheme.txt")
        if os.path.exists(marker):
            with open(marker) as fh:
                found = fh.read().strip()
            if found != scheme:
                raise ValueError(
                    f"state_dir was written under bloom scheme "
                    f"{found!r} but this filter uses {scheme!r} — its "
                    "bitmaps would probe the wrong bits; open it with "
                    "the same settings or start from a fresh state_dir")
        else:
            with open(marker, "w") as fh:
                fh.write(scheme)
        self.current_epoch = _latest_version(state_dir, "epoch")

    def _epoch_path(self, epoch: int) -> str:
        import os

        return os.path.join(self.state_dir, f"epoch={epoch}")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from json_schema_spark.textops.dedup import (
            bloom_probe_shards, build_bloom_shards, merge_bloom_shards)

        spark = batch_df.sparkSession
        prior = _latest_version(self.state_dir, "epoch", below=batch_id)
        batch_df = batch_df.persist()
        try:
            if prior is not None:
                state = spark.read.parquet(self._epoch_path(prior))
                novel = (bloom_probe_shards(
                    batch_df, state, self.key_col, self.n_shards,
                    self.bits_per_shard, self.n_hashes)
                    .filter(~F.col("_maybe_seen")).drop("_maybe_seen"))
            else:
                state = None
                novel = batch_df
            if self.sink is not None:
                self.sink(novel, batch_id)
            else:
                self.novel_count += novel.count()
            fresh = build_bloom_shards(batch_df, self.key_col,
                                       self.n_shards,
                                       self.bits_per_shard,
                                       self.n_hashes)
            merged = (merge_bloom_shards(state, fresh)
                      if state is not None else fresh)
            merged.write.mode("overwrite").parquet(
                self._epoch_path(batch_id))
            self.current_epoch = batch_id
            _prune_versions(self.state_dir, "epoch", batch_id, prior)
        finally:
            batch_df.unpersist()


class StreamingNearNovelFilter:
    """Cross-batch NEAR-dup novelty on the live ingest path: the
    MinHash-LSH analog of ShardedNovelFilter — "have we seen
    something LIKE this" instead of "this exact key". State is the
    persistable LSH bucket index (textops.dedup.build_minhash_index
    rows) under ``index_dir``, versioned by batch id the way
    ShardedNovelFilter's epochs are. Keep-first: only NOVEL rows'
    buckets enter the index (near-dups of an indexed doc never do), so
    state grows with the distinct corpus, not the stream. Restart
    recovery is automatic — the index on disk IS the state.

    Per batch: probe against the newest complete ``batch=<j>`` with j
    BELOW ``batch_id`` (candidates only — LSH recall applies: a near-dup
    that shares no band bucket re-emits), hand rows with no candidate to
    ``sink``, overwrite ``batch=<batch_id>`` with that index plus their
    buckets, and delete the older versions other than the one probed.
    A batch's probe reads one index, however long the stream. This is
    replay-safe: a batch re-run after its index write (crash before
    Spark's commit) probes the same prior version, never its own
    buckets, so it hands the sink the same rows. Caveats: as with
    ShardedNovelFilter, within-batch near-dups all pass (the probe sees
    only prior batches — near_dedup_corpus the batch first if that
    matters). Rows whose text yields no shingle (< k words) never index
    and re-emit every batch — route them through an exact novel filter
    first."""

    def __init__(self, index_dir: str, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3,
                 num_hashes: int = 16, bands: int = 4,
                 max_bucket_size: int | None = None, sink=None):
        import os

        self.index_dir = index_dir
        self.text_col = text_col
        self.id_col = id_col
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.max_bucket_size = max_bucket_size
        self.sink = sink
        self.novel_count = 0
        os.makedirs(index_dir, exist_ok=True)
        # an index appended at the top level is not versioned by batch
        # id, so a replayed batch would probe its own buckets
        if any(n.startswith("part-") and n.endswith(".parquet")
               for n in os.listdir(index_dir)):
            raise ValueError(
                f"index_dir {index_dir!r} holds a top-level append-only "
                "index from an older layout; start from a fresh "
                "index_dir")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        import os

        from json_schema_spark.textops.dedup import (build_minhash_index,
                                                     novel_vs_index)

        prior = _latest_version(self.index_dir, "batch", below=batch_id)
        if prior is not None:
            index = batch_df.sparkSession.read.parquet(
                os.path.join(self.index_dir, f"batch={prior}"))
            novel = novel_vs_index(
                batch_df, index, self.text_col, self.id_col,
                k=self.k, num_hashes=self.num_hashes, bands=self.bands,
                max_bucket_size=self.max_bucket_size)
        else:
            index, novel = None, batch_df
        # two consumers (sink + the bucket write) — persist so the
        # probe anti-join doesn't run twice
        novel = novel.persist()
        try:
            if self.sink is not None:
                self.sink(novel, batch_id)
            else:
                self.novel_count += novel.count()
            fresh = build_minhash_index(novel, self.text_col, self.id_col,
                                        self.k, self.num_hashes, self.bands)
            (fresh if index is None else index.unionByName(fresh)) \
                .write.mode("overwrite") \
                .parquet(os.path.join(self.index_dir, f"batch={batch_id}"))
            _prune_versions(self.index_dir, "batch", batch_id, prior)
        finally:
            novel.unpersist()


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


def stream_sessions(stream_df: DataFrame, user_col: str = "user_id",
                    ts_col: str = "ts", gap: str = "30 minutes",
                    watermark: str = "1 hour") -> DataFrame:
    """Event-time sessionization on an unbounded stream: per-user
    session windows that close after ``gap`` of inactivity, with a
    watermark bounding how late events may arrive (later ones are
    dropped, earlier state is finalized and evicted — state size stays
    proportional to OPEN sessions, not history). The streaming analog
    of the batch sessionize query; append-mode sinks emit each session
    exactly once, when the watermark passes its close."""
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.session_window(F.col(ts_col), gap).alias("session"),
                     F.col(user_col))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col(user_col),
                    F.col("session.start").alias("session_start"),
                    F.col("session.end").alias("session_end"),
                    "n_events"))
