"""Checkpoint/resume lineage + streaming validation tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from json_schema_spark.flagship import webtext_constraints
from json_schema_spark.sources.webtext import generate_webtext


@pytest.fixture(scope="module")
def webtext_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("webtext") / "tbl")
    (generate_webtext(spark, 5000)
     .withColumn("warc_day", F.to_date("warc_ts"))
     .write.mode("overwrite").partitionBy("warc_day").parquet(path))
    return path


def test_run_validation_and_resume(spark, webtext_dir, tmp_path):
    from json_schema_spark.ops.checkpoint import (
        resume_summary, run_validation, write_manifest)

    out = str(tmp_path / "out")
    df = spark.read.parquet(webtext_dir)
    cset = webtext_constraints()

    stats = run_validation(spark, df, cset, out)
    assert stats.processed and not stats.skipped
    n_parts = len(stats.processed)

    # manifests carry lineage: input files, constraint hash, metrics
    m = stats.manifests[stats.processed[0]]
    assert m["status"] == "COMPLETE"
    assert m["constraint_hash"] == cset.content_hash()
    assert m["input_files"], "lineage must record the files actually read"
    assert m["metrics"]["rows_total"] > 0

    # violations actually landed per partition
    viol = spark.read.parquet(os.path.join(out, "violations"))
    # hive layout: the partition dir surfaces as a readable column
    assert viol.columns == ["url", "constraint_id", "observed_value",
                            "partition"]
    assert viol.count() > 0

    # resume: nothing to redo
    stats2 = run_validation(spark, df, cset, out)
    assert not stats2.processed
    assert len(stats2.skipped) == n_parts

    # a torn manifest forces exactly that partition to re-run
    victim = stats.processed[0]
    write_manifest(out, victim, {"status": "RUNNING"})
    stats3 = run_validation(spark, df, cset, out)
    assert stats3.processed == [victim]
    assert len(stats3.skipped) == n_parts - 1

    # a changed constraint set invalidates every manifest
    cset2 = webtext_constraints()
    cset2.columns["text"]["minLength"] = 2
    stats4 = run_validation(spark, df, cset2, out,
                            partitions=stats.processed[:2])
    assert len(stats4.processed) == 2

    summary = resume_summary(out)
    assert summary["complete"] == n_parts
    assert summary["rows_total"] >= 5000


def test_streaming_violations(spark, webtext_dir, tmp_path):
    from json_schema_spark.ops.streaming import stream_violations

    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")

    def drain(stream):
        # parquet sink + streaming checkpoint: exactly-once file output
        q = (stream_violations(stream, webtext_constraints(), id_col="url")
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    stream = (spark.readStream
              .schema(spark.read.parquet(webtext_dir).schema)
              .option("maxFilesPerTrigger", "64")
              .parquet(webtext_dir))
    assert stream.isStreaming
    drain(stream)

    got = spark.read.parquet(out)
    assert set(got.columns) == {"url", "constraint_id", "observed_value",
                                "event_ts"}
    n1 = got.count()
    assert n1 > 0

    # exactly-once: re-running the drained stream adds nothing
    drain(spark.readStream
          .schema(spark.read.parquet(webtext_dir).schema)
          .parquet(webtext_dir))
    assert spark.read.parquet(out).count() == n1

    # streaming and batch agree on row-level verdicts
    from json_schema_spark.constraints.evaluator import validate
    batch = validate(spark.read.parquet(webtext_dir),
                     webtext_constraints(), id_col="url",
                     dataset_checks=False, observe=False)
    assert batch.violations().count() == n1


def test_windowed_violation_counts(spark, webtext_dir):
    from json_schema_spark.ops.streaming import violation_counts

    stream = (spark.readStream
              .schema(spark.read.parquet(webtext_dir).schema)
              .parquet(webtext_dir))
    counts = violation_counts(stream, webtext_constraints(),
                              ts_col="warc_ts", window_duration="1 day",
                              watermark="1 day")
    # schema sanity without running the (unbounded) aggregation to a sink
    assert counts.isStreaming
    names = [f.name for f in counts.schema.fields]
    assert names == ["window", "constraint_id", "n"]


def test_stream_violations_ts_col_disambiguation(spark):
    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    from json_schema_spark import ConstraintSet
    from json_schema_spark.ops.streaming import stream_violations

    cset = ConstraintSet(name="t", columns={"v": {"minimum": 0}})
    two_ts = spark.createDataFrame(
        [("a", 1, "2024-01-01 00:00:00", "2024-01-02 00:00:00")],
        "url string, v long, t1 string, t2 string") \
        .select("url", "v", F.col("t1").cast("timestamp").alias("t1"),
                F.col("t2").cast("timestamp").alias("t2"))
    with pytest.raises(ValueError, match="multiple timestamp"):
        stream_violations(two_ts, cset)
    out = stream_violations(two_ts, cset, ts_col="t2")
    assert "event_ts" in out.columns


def test_manifest_input_files_respect_partition_filter(spark, tmp_path):
    """Each partition manifest must list only the files of ITS partition
    (ADVICE r1: df.inputFiles() ignored the filter)."""
    from pyspark.sql import functions as F

    from json_schema_spark import ConstraintSet
    from json_schema_spark.ops.checkpoint import run_validation

    src = str(tmp_path / "src")
    (spark.range(100)
     .select(F.col("id").cast("string").alias("url"),
             (F.col("id") % 2).cast("string").alias("day"),
             (F.col("id") % 10).alias("v"))
     .write.partitionBy("day").parquet(src))
    df = spark.read.parquet(src)
    cset = ConstraintSet(name="t", columns={"v": {"minimum": 0}})
    stats = run_validation(spark, df, cset, str(tmp_path / "out"),
                           partition_col="day", id_col="url")
    for part, manifest in stats.manifests.items():
        files = manifest["input_files"]
        assert files, part
        assert all(f"day={part}" in f for f in files), (part, files)


def test_checkpoint_verdict_counts_dataset_level_rows(spark, tmp_path):
    """A duplicated url fails the partition: the verdict and the manifest
    count the written url.unique rows, not only the row-level ones."""
    from json_schema_spark import ConstraintSet
    from json_schema_spark.ops.checkpoint import run_validation

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("u1", "d1", 1), ("u1", "d1", 2), ("u2", "d1", 3)],
        "url string, day string, v long").write.partitionBy("day").parquet(src)
    cset = ConstraintSet(name="t", columns={"v": {"minimum": 0}},
                         unique=["url"])
    stats = run_validation(spark, spark.read.parquet(src), cset,
                           str(tmp_path / "out"), partition_col="day")
    manifest = stats.manifests["d1"]
    assert manifest["metrics"] == {
        "rows_total": 3, "rows_failed": 0, "violations_total": 2,
        "violations_by_constraint": {"v.minimum": 0, "url.unique": 2}}
    verdicts = spark.read.parquet(manifest["outputs"]["verdicts"]).collect()
    assert [tuple(r) for r in verdicts] == [("d1", 3, 0, 2, False)]
    written = spark.read.parquet(manifest["outputs"]["violations"])
    assert sorted(tuple(r) for r in written.collect()) == [
        ("u1", "url.unique", "u1"), ("u1", "url.unique", "u1")]


THREE_DAYS = [("u1", "d1", 5), ("u2", "d1", -1), ("u2", "d1", 3),
              ("u3", "d2", -2), ("bad", "d2", 1),
              ("u4", "d3", None), ("u5", "d3", 7)]


def test_run_validation_compiles_once(spark, tmp_path, monkeypatch):
    """Three days under one schema compile the set once, and each day's
    manifest keeps the counts it had when every day compiled anew."""
    from json_schema_spark import ConstraintSet
    from json_schema_spark.constraints import evaluator
    from json_schema_spark.ops.checkpoint import run_validation

    compiled = []
    real = evaluator.compile_constraints
    monkeypatch.setattr(evaluator, "compile_constraints",
                        lambda cset, schema: compiled.append(cset.name)
                        or real(cset, schema))
    evaluator.clear_plan_cache()

    src = str(tmp_path / "src")
    spark.createDataFrame(THREE_DAYS, "url string, day string, v long") \
        .write.partitionBy("day").parquet(src)
    cset = ConstraintSet(
        name="three_days", unique=["url"],
        columns={"url": {"pattern": "^u"},
                 "v": {"minimum": 0, "required": True}})
    stats = run_validation(spark, spark.read.parquet(src), cset,
                           str(tmp_path / "out"), partition_col="day")
    assert stats.processed == ["d1", "d2", "d3"]
    assert compiled == ["three_days"]

    def counts(pattern, minimum, required, unique):
        return {"url.pattern": pattern, "v.minimum": minimum,
                "v.required": required, "url.unique": unique}

    got = {p: m["metrics"] for p, m in stats.manifests.items()}
    assert got == {
        "d1": {"rows_total": 3, "rows_failed": 1, "violations_total": 3,
               "violations_by_constraint": counts(0, 1, 0, 2)},
        "d2": {"rows_total": 2, "rows_failed": 2, "violations_total": 2,
               "violations_by_constraint": counts(1, 1, 0, 0)},
        "d3": {"rows_total": 2, "rows_failed": 1, "violations_total": 1,
               "violations_by_constraint": counts(0, 0, 1, 0)}}
    assert {m["constraint_hash"] for m in stats.manifests.values()} \
        == {cset.content_hash()}


def test_variant_fast_path_works_on_streams(spark, tmp_path):
    """validate_json_variant is a pure projection, so it must compose
    with Structured Streaming unchanged (stateless, append-safe)."""
    import json

    from pyspark.sql import functions as F  # noqa: F401

    from json_schema_spark.validator.hybrid import validate_json_variant

    src = str(tmp_path / "json_src")
    rows = [{"id": 1, "json": '{"a": "hello"}'},
            {"id": 2, "json": '{"a": 7}'},
            {"id": 3, "json": "not json"}]
    spark.createDataFrame([(r["id"], r["json"]) for r in rows],
                          "id long, json string").write.parquet(src)

    stream = (spark.readStream
              .schema("id long, json string").parquet(src))
    schema = {"type": "object",
              "properties": {"a": {"type": "string", "minLength": 3}}}
    out_df = validate_json_variant(stream, schema, "json", id_col="id")
    assert out_df.isStreaming

    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    q = (out_df.writeStream.format("parquet")
         .option("path", sink).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["id"]: r["valid"] for r in spark.read.parquet(sink).collect()}
    assert got == {1: True, 2: False, 3: False}
    json  # keep import


def test_asof_join_semantics(spark):
    from json_schema_spark.ops.joins import asof_join

    left = spark.createDataFrame(
        [(1, "u1", 10), (2, "u1", 20), (3, "u1", 5), (4, "u2", 15)],
        "id long, user string, ts long")
    right = spark.createDataFrame(
        [("u1", 10, 100.0), ("u1", 18, 200.0), ("u2", 99, 300.0)],
        "user string, ts long, price double")
    out = {r["id"]: r["price_asof"] for r in
           asof_join(left, right, on="ts", by="user",
                     right_cols=["price"]).collect()}
    assert out == {1: 100.0,   # inclusive: right at ts==10 matches
                   2: 200.0,   # latest prior (18 <= 20)
                   3: None,    # nothing at or before ts=5
                   4: None}    # u2's only right row is later


def test_asof_join_carries_null_payloads(spark):
    """A right row whose payload is NULL still 'occurs' — later left
    rows must see NULL from it, not fall back to an earlier payload."""
    from json_schema_spark.ops.joins import asof_join

    left = spark.createDataFrame([(1, "u", 30)], "id long, user string, ts long")
    right = spark.createDataFrame(
        [("u", 10, 1.0), ("u", 20, None)],
        "user string, ts long, price double")
    out = asof_join(left, right, on="ts", by="user",
                    right_cols=["price"]).collect()
    assert out[0]["price_asof"] is None


def test_range_join_containment(spark):
    from json_schema_spark.ops.joins import range_join

    probes = spark.createDataFrame(
        [(1, "u", 5.0), (2, "u", 15.0), (3, "u", 25.0), (4, "v", 15.0)],
        "id long, user string, ts double")
    ivs = spark.createDataFrame(
        [("u", 100, 10.0, 20.0), ("v", 200, 0.0, 100.0)],
        "user string, iid long, start double, end double")
    out = {(r["id"], r["iid"]) for r in
           range_join(probes, ivs, probe_ts="ts", by="user",
                      bucket=7.0).collect()}
    assert out == {(2, 100), (4, 200)}   # half-open [start, end)


def test_keyless_asof_join_parallel_carry(spark):
    """by=None must NOT degrade to a single-partition global sort: the
    keyless path range-buckets by ts quantiles, windows per bucket, and
    stitches buckets with a broadcast carry-in — verdicts identical to
    a per-row Python as-of over the same data, including left rows
    before any right row (NULL) and inclusive ts ties."""
    import random

    from pyspark.sql import functions as F

    from json_schema_spark.ops.joins import asof_join

    rnd = random.Random(7)
    lrows = [(i, float(rnd.randrange(0, 5000))) for i in range(2000)]
    # distinct right ts: at equal right timestamps the carried payload
    # is engine-tie-broken, which a parity test must not depend on
    rrows = [(j, float(ts), f"p{j}")
             for j, ts in enumerate(rnd.sample(range(5000), 300))]
    left = spark.createDataFrame(lrows, "lid long, ts double")
    right = spark.createDataFrame(rrows, "rid long, ts double, payload string")

    out = asof_join(left, right, on="ts", right_cols=["payload"],
                    keyless_buckets=16)
    got = {r["lid"]: r["payload_asof"] for r in out.collect()}

    srt = sorted(rrows, key=lambda r: r[1])
    def expect(ts):
        best = None
        for _, rts, p in srt:
            if rts <= ts:
                best = p
            else:
                break
        return best
    want = {lid: expect(ts) for lid, ts in lrows}
    assert got == want

    # plan gate: the carry window partitions on the range bucket, not a
    # constant — no global single-partition sort of the data
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_bkt" in plan


def test_keyless_asof_null_ts_matches_keyed(spark):
    """ADVICE r3: NULL-ts rows must route to bucket -1 (before every
    real bucket) so the keyless path reproduces the keyed path's
    NULLS-FIRST carry semantics — including a NULL-ts right row
    carrying into later real-ts left rows until overridden."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.ops.joins import asof_join

    left = spark.createDataFrame(
        [(None,), (0,), (1,), (3,), (7,)], "ts long")
    right = spark.createDataFrame(
        [(None, "r_null"), (1, "r1"), (5, "r5")], "ts long, payload string")
    try:
        keyless = {(r["ts"], r["payload_asof"])
                   for r in asof_join(left, right, on="ts",
                                      keyless_buckets=4).collect()}
        keyed = {(r["ts"], r["payload_asof"])
                 for r in asof_join(left.withColumn("k", F.lit(1)),
                                    right.withColumn("k", F.lit(1)),
                                    on="ts", by="k")
                 .drop("k").collect()}
        assert keyless == keyed
        assert keyless == {(None, "r_null"), (0, "r_null"), (1, "r1"),
                           (3, "r1"), (7, "r5")}
    finally:
        release_caches()


def test_sharded_novel_filter_batches_and_restart(spark, tmp_path):
    """ShardedNovelFilter: per-batch novelty with the filter state as a
    distributed (shard, bloom) parquet table — emits each key at most
    once across batches, and a NEW instance pointed at the same
    state_dir resumes from the newest complete epoch (restart
    recovery)."""
    from json_schema_spark.ops.streaming import ShardedNovelFilter

    emitted: list[set] = []
    state = str(tmp_path / "bloom_state")
    f = ShardedNovelFilter(
        state, key_col="digest", n_shards=4, bits_per_shard=1 << 20,
        sink=lambda df, bid: emitted.append(
            {r["digest"] for r in df.collect()}))

    b0 = spark.createDataFrame([(f"k{i}",) for i in range(100)],
                               "digest string")
    b1 = spark.createDataFrame([(f"k{i}",) for i in range(50, 150)],
                               "digest string")
    f(b0, 0)
    f(b1, 1)
    assert emitted[0] == {f"k{i}" for i in range(100)}
    assert emitted[1] == {f"k{i}" for i in range(100, 150)}

    # restart: a fresh instance resumes from disk and suppresses
    # everything already emitted
    f2 = ShardedNovelFilter(
        state, key_col="digest", n_shards=4, bits_per_shard=1 << 20,
        sink=lambda df, bid: emitted.append(
            {r["digest"] for r in df.collect()}))
    assert f2.current_epoch == f.current_epoch
    b2 = spark.createDataFrame([(f"k{i}",) for i in range(140, 180)],
                               "digest string")
    f2(b2, 2)
    assert emitted[2] == {f"k{i}" for i in range(150, 180)}

    # integration: a real streaming query drives the same processor
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("\n".join(f"k{i}" for i in range(200)))
    f3 = ShardedNovelFilter(str(tmp_path / "bloom_state2"),
                            key_col="digest", n_shards=4,
                            bits_per_shard=1 << 20)
    q = (spark.readStream.format("text").schema("value string")
         .load(str(src))
         .select(F.col("value").alias("digest"))
         .writeStream.foreachBatch(f3)
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    assert f3.novel_count == 200


def test_streaming_novel_filter_rejects_mismatched_bloom(spark, tmp_path):
    """Bitmaps written at one bits_per_shard would be probed at wrong
    bit positions by a filter of another size: a restart on a state_dir
    that already holds an epoch must refuse the mismatch loudly, and
    the matching size must resume that epoch."""
    from json_schema_spark.ops.streaming import ShardedNovelFilter

    state = str(tmp_path / "state")
    f = ShardedNovelFilter(state, n_shards=4, bits_per_shard=1 << 20)
    f(spark.createDataFrame([("k0",), ("k1",)], "digest string"), 0)
    with pytest.raises(ValueError, match="bits_per_shard"):
        ShardedNovelFilter(state, n_shards=4, bits_per_shard=1 << 23)
    # matching size is accepted and resumes the written epoch
    g = ShardedNovelFilter(state, n_shards=4, bits_per_shard=1 << 20)
    assert g.current_epoch == f.current_epoch == 0


def test_sharded_novel_filter_replay_after_state_write(spark, tmp_path):
    """foreachBatch delivers at least once: a batch re-run after its
    state write (a crash before Spark commits it) must hand the sink
    the same rows, both when a restarted processor replays it by hand
    and when a real query crashes there and restarts from its
    checkpoint."""
    import time

    from json_schema_spark.ops.streaming import ShardedNovelFilter

    def keys(lo, hi):
        return [f"k{i}" for i in range(lo, hi)]

    def make(state, out):
        return ShardedNovelFilter(
            state, key_col="digest", n_shards=4, bits_per_shard=1 << 20,
            sink=lambda df, bid: out.__setitem__(
                bid, sorted(r["digest"] for r in df.collect())))

    b0 = spark.createDataFrame([(k,) for k in keys(0, 5)], "digest string")
    b1 = spark.createDataFrame([(k,) for k in keys(3, 8)], "digest string")
    state = str(tmp_path / "state")
    out: dict[int, list] = {}
    f = make(state, out)
    f(b0, 0)
    f(b1, 1)
    assert out == {0: keys(0, 5), 1: keys(5, 8)}
    make(state, out)(b1, 1)  # restarted instance replays batch 1
    assert out == {0: keys(0, 5), 1: keys(5, 8)}
    # the probed epoch is kept for such a replay, older ones are not
    b2 = spark.createDataFrame([(k,) for k in keys(6, 10)],
                               "digest string")
    f(b2, 2)
    assert out[2] == keys(8, 10)
    assert sorted(n for n in os.listdir(state) if n.startswith("epoch=")) \
        == ["epoch=1", "epoch=2"]

    # a real query: crash after batch 1's state write, restart, replay
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    for i, (name, ks) in enumerate((("a.txt", keys(0, 5)),
                                    ("b.txt", keys(3, 8)))):
        (src / name).write_text("\n".join(ks))
        os.utime(src / name, (now - 60 + i, now - 60 + i))
    state, ckpt = str(tmp_path / "state2"), str(tmp_path / "ckpt")
    out = {}

    def run(processor):
        q = (spark.readStream.format("text").schema("value string")
             .option("maxFilesPerTrigger", "1").load(str(src))
             .select(F.col("value").alias("digest"))
             .writeStream.foreachBatch(processor)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    f = make(state, out)

    def crash_after_state_write(df, bid):
        f(df, bid)
        if bid == 1:
            raise RuntimeError("injected crash before commit")

    with pytest.raises(Exception, match="injected crash"):
        run(crash_after_state_write)
    assert out == {0: keys(0, 5), 1: keys(5, 8)}
    out.clear()
    run(make(state, out))
    assert out == {1: keys(5, 8)}


def test_streaming_drift_matches_batch_operator(spark, tmp_path):
    """StreamingDriftMonitor folded over micro-batches must reproduce
    the batch drift_vs_baseline rows on the same data (same formulas,
    same clamp, same rounding) — the drift monitors run on the live
    ingest path the checkpoint/resume layer targets (VERDICT r3 #10)."""
    from json_schema_spark.checks.drift import drift_vs_baseline
    from json_schema_spark.ops.streaming import StreamingDriftMonitor

    rows = []
    for d, day in enumerate(["2025-06-01", "2025-06-02", "2025-06-03"]):
        for i in range(120):
            lang = ["en", "de", "fr"][(i + d) % 3] if i % 5 else "es"
            rows.append((f"{day} 0{i % 10}:00:00", lang))
    df = spark.createDataFrame(rows, "ts string, lang string") \
        .withColumn("ts", F.to_timestamp("ts"))
    baseline = {"en": 0.4, "de": 0.3, "fr": 0.2, "es": 0.1}

    batch = {r["day"]: (r["psi"], r["js_divergence"])
             for r in drift_vs_baseline(df, "lang", baseline,
                                        ts_col="ts").collect()}

    # two micro-batches split mid-data, cumulative counts
    reports = []
    mon = StreamingDriftMonitor(baseline, cat_col="lang", ts_col="ts",
                                sink=lambda rep, bid: reports.append(rep))
    half = df.filter(F.hour("ts") < 5)
    rest = df.filter(F.hour("ts") >= 5)
    mon(half, 0)
    mon(rest, 1)
    streamed = {r["day"]: (r["psi"], r["js_divergence"])
                for r in reports[-1]}
    assert set(streamed) == set(batch)
    for day in batch:
        assert abs(streamed[day][0] - batch[day][0]) < 2e-6
        assert abs(streamed[day][1] - batch[day][1]) < 2e-6

    # integration: a real streaming query drives the monitor
    src = tmp_path / "drift_src"
    df.coalesce(1).write.parquet(str(src))
    mon2 = StreamingDriftMonitor(baseline, cat_col="lang", ts_col="ts")
    q = (spark.readStream.schema(df.schema).parquet(str(src))
         .writeStream.foreachBatch(mon2)
         .option("checkpointLocation", str(tmp_path / "drift_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    streamed2 = {r["day"]: (r["psi"], r["js_divergence"])
                 for r in mon2.report()}
    for day in batch:
        assert abs(streamed2[day][0] - batch[day][0]) < 2e-6
        assert abs(streamed2[day][1] - batch[day][1]) < 2e-6


def test_streaming_drift_replayed_batch_counts_once(spark):
    """foreachBatch delivers at least once: a second delivery of batch 1
    leaves the counts, and the PSI, as one delivery left them."""
    from json_schema_spark.ops.streaming import StreamingDriftMonitor

    def batch(langs):
        return spark.createDataFrame(
            [("2025-06-01 00:00:00", lang) for lang in langs],
            "ts string, lang string").withColumn("ts", F.to_timestamp("ts"))

    reports = []
    mon = StreamingDriftMonitor({"en": 0.5, "de": 0.5}, cat_col="lang",
                                ts_col="ts",
                                sink=lambda rep, bid: reports.append(rep))
    mon(batch(["en"] * 3), 0)
    mon(batch(["de"]), 1)
    mon(batch(["de"]), 1)
    assert [r[0]["psi"] for r in reports[1:]] == [0.274653, 0.274653]
    assert sorted(mon.counts.values()) == [1, 3]


def test_chunking_and_url_filter_compose_with_streams(spark, tmp_path):
    """chunk_documents and filter_urls are stateless projections /
    filters (chunking's Generate is append-safe), so both must run on
    a Structured Streaming source unchanged — the live-ingest prep
    path."""
    from json_schema_spark.textops.textanalysis import chunk_documents
    from json_schema_spark.textops.urls import filter_urls

    src = str(tmp_path / "docs_src")
    spark.createDataFrame(
        [(1, "a b c d e f", "https://ok.com/x"),
         (2, "g h", "https://blocked.net/y"),
         (3, "i j k", "ftp://ok.com/z")],
        "doc_id long, text string, url string").write.parquet(src)

    stream = (spark.readStream
              .schema("doc_id long, text string, url string")
              .parquet(src))
    out = chunk_documents(
        filter_urls(stream, block_domains=("blocked.net",)),
        chunk_size=4, overlap=1)
    assert out.isStreaming

    sink = str(tmp_path / "chunks_out")
    ckpt = str(tmp_path / "chunks_ck")
    q = (out.writeStream.format("parquet")
         .option("path", sink).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r.doc_id, r.chunk_id, r.chunk_text)
                 for r in spark.read.parquet(sink).collect())
    # doc 2 (blocked domain) and doc 3 (scheme) are gone; doc 1 chunks
    assert got == [(1, 0, "a b c d"), (1, 1, "d e f")]


def test_jsonl_roundtrip_with_corrupt_accounting(spark, tmp_path):
    """read_jsonl surfaces malformed lines in the corrupt column
    (countable, not dropped); write_jsonl shards and compresses; the
    roundtrip is lossless."""
    import os

    from json_schema_spark.sources.io import read_jsonl, write_jsonl

    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "part0.jsonl"), "w") as f:
        f.write('{"doc_id": 1, "text": "hello"}\n')
        f.write('not json at all\n')
        f.write('{"doc_id": 2, "text": "world"}\n')
    df = read_jsonl(spark, src, schema="doc_id long, text string")
    bad = df.filter("_corrupt_record is not null").select(
        "doc_id", "_corrupt_record").collect()
    assert len(bad) == 1 and bad[0]["_corrupt_record"] == "not json at all"

    out = str(tmp_path / "out")
    write_jsonl(df.filter("_corrupt_record is null")
                .drop("_corrupt_record"), out, n_shards=2)
    shards = [x for x in os.listdir(out)
              if x.startswith("part") and x.endswith(".json.gz")]
    assert len(shards) == 2
    back = read_jsonl(spark, out, schema="doc_id long, text string")
    assert sorted((r.doc_id, r.text) for r in
                  back.filter("_corrupt_record is null").collect()) == \
        [(1, "hello"), (2, "world")]


def test_write_curated_layout_controls(spark, tmp_path):
    """Partition directories, bounded file sizes, and a lossless
    roundtrip with pruning-friendly layout."""
    import os

    from json_schema_spark.sources.io import write_curated

    df = spark.createDataFrame(
        [(i, f"lang{i % 2}", f"t{i}") for i in range(100)],
        "doc_id long, lang string, text string").repartition(1)
    out = str(tmp_path / "curated")
    write_curated(df, out, partition_by=["lang"], sort_by=["doc_id"],
                  max_records_per_file=20)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("lang="))
    assert dirs == ["lang=lang0", "lang=lang1"]
    files = [f for d in dirs
             for f in os.listdir(os.path.join(out, d))
             if f.endswith(".parquet")]
    assert len(files) >= 5  # 50 rows per partition / 20-row cap
    back = spark.read.parquet(out)
    assert back.count() == 100
    plan = (back.filter(F.col("lang") == "lang0").select("doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan and "lang" in \
        plan.split("PartitionFilters:")[1].splitlines()[0]


def test_streaming_near_novel_filter_batches_and_restart(spark, tmp_path):
    """The LSH-index novelty filter across direct foreachBatch calls:
    batch 1 all-novel and indexed; batch 2's near-dups of batch-1 docs
    are filtered while its fresh doc passes; a NEW filter instance on
    the same index_dir (restart) keeps filtering — the on-disk index
    IS the state."""
    from json_schema_spark.ops.streaming import StreamingNearNovelFilter

    emitted: dict[int, set] = {}

    def sink(df, bid):
        emitted[bid] = {r.doc_id for r in df.select("doc_id").collect()}

    idx = str(tmp_path / "lsh_index")
    f = StreamingNearNovelFilter(idx, sink=sink)

    # long texts + one-word perturbations: jaccard stays high enough
    # that the (deterministic) band family collides — outcomes are
    # fixed given the texts, no flakiness
    base_a = " ".join(f"alpha{i}" for i in range(30))
    base_b = " ".join(f"beta{i}" for i in range(30))
    base_c = " ".join(f"gamma{i}" for i in range(30))
    b1 = spark.createDataFrame(
        [(1, base_a), (2, base_b)], "doc_id long, text string")
    f(b1, 0)
    assert emitted[0] == {1, 2}

    b2 = spark.createDataFrame(
        [(3, base_a + " tail"),      # near-dup of indexed doc 1
         (4, base_c)],               # fresh
        "doc_id long, text string")
    f(b2, 1)
    assert emitted[1] == {4}

    # restart: a brand-new instance primes from the directory
    f2 = StreamingNearNovelFilter(idx, sink=sink)
    b3 = spark.createDataFrame(
        [(5, base_c + " coda"),      # near-dup of batch-2's novel doc
         (6, " ".join(f"delta{i}" for i in range(30)))],
        "doc_id long, text string")
    f2(b3, 2)
    assert emitted[2] == {6}


def test_streaming_near_novel_filter_replay_after_index_write(spark,
                                                              tmp_path):
    """A batch re-run after its index write (a crash before Spark
    commits it) must hand the sink the same rows: the replay probes
    only the complete batches below its id, never its own buckets. An
    index_dir in the old append-only layout is refused, and so is one
    reopened under other LSH settings: its band hashes would never
    collide with the new ones, so seen rows would re-emit."""
    from json_schema_spark.ops.streaming import StreamingNearNovelFilter

    out: dict[int, list] = {}

    def make(idx, **lsh):
        return StreamingNearNovelFilter(
            idx, sink=lambda df, bid: out.__setitem__(
                bid, sorted(r.doc_id for r in df.collect())), **lsh)

    def words(stem):
        return " ".join(f"{stem}{i}" for i in range(30))

    b0 = spark.createDataFrame([(0, words("alpha"))],
                               "doc_id long, text string")
    b1 = spark.createDataFrame([(1, words("beta")), (2, words("gamma"))],
                               "doc_id long, text string")
    idx = str(tmp_path / "lsh_index")
    f = make(idx)
    f(b0, 0)
    f(b1, 1)
    assert out == {0: [0], 1: [1, 2]}
    make(idx)(b1, 1)  # restarted instance replays batch 1
    assert out == {0: [0], 1: [1, 2]}

    old = str(tmp_path / "old_index")
    b0.write.parquet(old)
    with pytest.raises(ValueError, match="older layout"):
        make(old)

    for other in ({"k": 5}, {"num_hashes": 32}, {"bands": 8},
                  {"k": 5, "bands": 8}):
        with pytest.raises(ValueError) as err:
            make(idx, **other)
        msg = str(err.value)
        assert "k=3 num_hashes=16 bands=4" in msg, msg
        scheme = (f"k={other.get('k', 3)} "
                  f"num_hashes={other.get('num_hashes', 16)} "
                  f"bands={other.get('bands', 4)}")
        assert scheme in msg, msg
    make(idx, k=3, num_hashes=16, bands=4)  # the same settings reopen it


def test_streaming_near_novel_filter_keeps_two_index_versions(spark,
                                                              tmp_path):
    """Each batch probes one index — the newest complete version below
    its id — and writes that index plus its novel buckets, so the
    index_dir holds at most two versions however long the stream, while
    near-dups of docs from ANY earlier batch are still filtered."""
    from json_schema_spark.ops.streaming import StreamingNearNovelFilter

    out: dict[int, list] = {}
    idx = tmp_path / "lsh_index"
    f = StreamingNearNovelFilter(
        str(idx), sink=lambda df, bid: out.__setitem__(
            bid, sorted(r.doc_id for r in df.collect())))

    def words(stem, tail=""):
        return " ".join(f"{stem}{i}" for i in range(30)) + tail

    batches = [
        [(0, words("alpha")), (1, words("beta"))],
        [(2, words("alpha", " tail")), (3, words("gamma"))],
        [(4, words("beta", " coda")), (5, words("delta"))],
        [(6, words("gamma", " end")), (7, words("alpha", " more")),
         (8, words("eps"))],
    ]
    for bid, rows in enumerate(batches):
        f(spark.createDataFrame(rows, "doc_id long, text string"), bid)
    assert out == {0: [0, 1], 1: [3], 2: [5], 3: [8]}
    versions = sorted(p.name for p in idx.iterdir()
                      if p.name.startswith("batch="))
    assert versions == ["batch=2", "batch=3"]
