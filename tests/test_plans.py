"""Physical-plan quality gates — the properties that make the engine hold
at 10^12 rows. These assert on `explain` output so a regression that
breaks pushdown / codegen / broadcast / the no-Python rule fails CI, not
a production run."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_filter_pushdown_reaches_scan(spark):
    df = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
          .filter(F.col("l_shipdate") <= "1998-09-02")
          .select("l_returnflag", "l_quantity"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan \
        or "LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must read only the referenced columns
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    assert "l_returnflag" in read_schema


def test_validation_is_pure_codegen(docs):
    """The flagship row-level constraint pass must contain zero Python
    evaluation nodes and stay inside whole-stage codegen."""
    from json_schema_spark.constraints.evaluator import validate
    from __spark_entry__ import _documents_cset

    res = validate(docs, _documents_cset(), id_col="doc_id",
                   observe=False, dataset_checks=False)
    plan = _plan(res.violations())
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                   "MapInPandas"):
        assert marker not in plan, f"Python on the hot path: {marker}"
    # codegen stages render as '*(n)' in executedPlan().toString()
    assert "*(1)" in plan
    assert _projects_outside_codegen(plan) == []


def _projects_outside_codegen(plan: str) -> list[str]:
    """Project nodes not drawn inside a '*(n)' whole-stage codegen stage."""
    return re.findall(r"^[\s:|+-]*Project \[.*$", plan, re.MULTILINE)


def test_webtext_validation_pure_codegen(spark):
    from json_schema_spark.flagship import validate_webtext
    from json_schema_spark.sources.webtext import generate_webtext

    out = validate_webtext(generate_webtext(spark, 1000)).violations()
    # AQE plans codegen per query stage: read the final plan after a run
    out.collect()
    plan = _plan(out)
    assert "isFinalPlan=true" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, f"Python on the hot path: {marker}"
    # the row-level validation projection stays inside codegen
    final = plan.split("+- == Initial Plan ==")[0]
    assert _projects_outside_codegen(final) == []


# six string keywords that the flagship set does not have, one per
# (column, keyword)
_EXTRA_STRING_KEYWORDS = [
    ("lang", "maxLength", 10), ("lang", "pattern", "^[a-z]"),
    ("url", "maxLength", 2048), ("lang", "minLength", 2),
    ("url", "minLength", 8), ("lang", "type", "string")]


@pytest.fixture(scope="module")
def cached_webtext(spark):
    from json_schema_spark.sources.webtext import generate_webtext

    df = generate_webtext(spark, 1000).cache()
    df.count()
    yield df
    df.unpersist()


def test_default_violations_stay_in_one_codegen_stage(cached_webtext):
    """The default validate() observes nothing: its violations plan over
    cached rows is the scan and one codegen stage of Project, Generate
    and Filter. CollectMetrics has no codegen, so an observation would
    split that stage and take every row out of compiled code."""
    from json_schema_spark.constraints.evaluator import validate
    from json_schema_spark.flagship import webtext_constraints

    res = validate(cached_webtext, webtext_constraints(),
                   dataset_checks=False)
    plan = _plan(res.violations())
    assert "CollectMetrics" not in plan, plan
    top = plan.split("InMemoryTableScan")[0]
    assert re.findall(r"\*\((\d+)\) (\w+)", top) == [
        ("1", "Filter"), ("1", "Generate"), ("1", "Project"),
        ("1", "Project")], top
    assert res.metrics() == {}


def test_observed_violations_fill_metrics(cached_webtext):
    """observe=True keeps the counters: after one action on violations()
    metrics() holds the row-level counts of the 1,000 generated rows."""
    from json_schema_spark.constraints.evaluator import validate
    from json_schema_spark.flagship import webtext_constraints

    cset = webtext_constraints()
    rows = validate(cached_webtext, cset, dataset_checks=False,
                    observe=True)
    assert "CollectMetrics" in _plan(rows.violations())
    assert rows.violations().count() == 32
    assert rows.metrics() == {"rows_total": 1000, "rows_failed": 20,
                              "violations_total": 32}
    # the flagship call: the fused lang referential counts, the 20 url
    # uniqueness rows do not
    flagship = validate(cached_webtext, cset, observe=True)
    assert flagship.violations().count() == 58
    assert flagship.metrics() == {"rows_total": 1000, "rows_failed": 20,
                                  "violations_total": 38}


def test_webtext_row_stage_methods_fit_jit_limit(spark, cached_webtext):
    """HotSpot does not JIT-compile a method over 8,000 bytecode bytes
    (DontCompileHugeMethods); Spark's hugeMethodLimit (65,535) lets such a
    method run anyway, interpreted. The row-level validation stages over
    cached rows, as the benchmark runs them, must stay under the limit,
    for the flagship set and for it plus six string keywords, with and
    without the observation."""
    from json_schema_spark.constraints.evaluator import validate
    from json_schema_spark.constraints.spec import ConstraintSet
    from json_schema_spark.flagship import webtext_constraints

    flagship = webtext_constraints()
    columns = {c: dict(spec) for c, spec in flagship.columns.items()}
    for col, kw, arg in _EXTRA_STRING_KEYWORDS:
        columns[col][kw] = arg
    extended = ConstraintSet(columns=columns)
    sizes = {}
    for name, cset in (("flagship", flagship), ("+6", extended)):
        for observe in (False, True):
            out = validate(cached_webtext, cset, dataset_checks=False,
                           observe=observe).violations()
            stages = spark._jvm.org.apache.spark.sql.execution.debug \
                .package.codegenStringSeq(
                    out._jdf.queryExecution().executedPlan())
            sizes[name, observe] = [
                stages.apply(i)._3().maxMethodCodeSize()
                for i in range(stages.size())]
    for key, s in sizes.items():
        # a stage that failed to compile reports -1
        assert s and 0 < min(s) and max(s) < 8000, (key, sizes)
    # the flagship stage keeps its headroom: 6,518 bytes when the rule
    # "a NULL verdict fails" moved from each keyword to the mask bit
    for observe in (False, True):
        assert max(sizes["flagship", observe]) <= 6600, sizes


def test_referential_dim_join_broadcasts(spark, docs):
    from json_schema_spark.checks.referential import referential_violations

    dim = spark.createDataFrame([("en",), ("de",)], "lang string")
    out = referential_violations(docs, "lang", dim, id_col="doc_id")
    assert "BroadcastHashJoin" in _plan(out)
    assert "SortMergeJoin" not in _plan(out)


def test_ann_query_side_broadcasts(spark):
    """cosine_topk broadcast path: query side broadcast, corpus side
    scan feeds the join with NO shuffle before it — the only row
    Exchange in the whole plan is the ranking window's repartition by
    query_id (VERDICT r4 #3 gate)."""
    from json_schema_spark.textops.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = cosine_topk(emb.filter(F.col("vec_id") < 3), emb, k=2)
    plan = _plan(out)
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    row_exchanges = plan.count("Exchange hashpartitioning")
    assert row_exchanges <= 1, plan


def test_partial_aggregation_in_stats(docs):
    """Stats agg must be partial+final (map-side combine), not a single
    exchange of raw rows."""
    from json_schema_spark.checks.stats import column_profile

    plan = _plan(column_profile(docs, ["lang", "n_chars"]))
    # two HashAggregate levels around the exchange
    assert plan.count("HashAggregate") >= 2 \
        or plan.count("ObjectHashAggregate") >= 2


def test_single_scan_for_row_level_validation(docs):
    """Row-level violations (with fused literal referential) must read
    the input exactly once."""
    from json_schema_spark.constraints.evaluator import validate
    from __spark_entry__ import _documents_cset

    res = validate(docs, _documents_cset(), id_col="doc_id",
                   observe=False, dataset_checks=False)
    plan = _plan(res.violations())
    assert plan.count("FileScan parquet") == 1


def test_partition_pruning_on_day(spark, tmp_path):
    from json_schema_spark.sources.webtext import generate_webtext

    path = str(tmp_path / "pt")
    (generate_webtext(spark, 2000)
     .withColumn("warc_day", F.to_date("warc_ts"))
     .write.partitionBy("warc_day").parquet(path))
    df = spark.read.parquet(path).filter(
        F.col("warc_day") == "2025-06-03")
    plan = _plan(df.select("url"))
    # dynamic partition pruning shows the partition filter at the scan
    assert "PartitionFilters" in plan
    assert "warc_day" in plan.split("PartitionFilters:")[1].splitlines()[0]


def test_text_analysis_is_shuffle_free_and_single_eval(docs):
    """Round-2 rewrite guard: analyze() must stay two stacked
    projections — no Exchange (zero shuffle at any corpus size), no
    Generate (the explode form re-evaluated char features per token),
    and each per-language stopword filter appearing exactly once in the
    optimized plan (CollapseProject must not re-inline them into the
    argmax when-chain)."""
    from json_schema_spark.textops.textanalysis import STOPWORDS, analyze

    out = analyze(docs)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys
    assert "Generate" not in phys
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("array_contains") == len(STOPWORDS)


def test_minhash_bucket_cap_prunes_hot_buckets(docs):
    """max_bucket_size must drop degenerate band buckets before the
    self-join (the m^2/2 guard)."""
    from pyspark.sql import functions as F

    from json_schema_spark.textops.dedup import minhash_candidate_pairs

    corpus = docs.select("doc_id", "text").filter(F.col("text").isNotNull())
    uncapped = minhash_candidate_pairs(corpus).count()
    capped = minhash_candidate_pairs(corpus, max_bucket_size=2).count()
    assert capped <= uncapped


def test_new_operator_plan_shapes(spark):
    """Round-2 operators: exchange counts and zero-Python locked in.
    asof_join = ONE shuffle (the key sort); range_join and hash_split
    need none on this input (broadcast / pure projection); time_rollup
    aggregates all grains behind ONE exchange."""
    import __spark_entry__ as e

    sf = SF_DIR
    budgets = {"asof_join": 1, "range_join": 1, "time_rollup": 1,
               "hash_split": 0, "url_dedup": 1,
               # round 3: token_stats is a pure projection; simhash64
               # aggregates behind one exchange; emb_near_dup's only
               # shuffle is the bucket self-join; the keyless as-of
               # spends its 6 on the bucket window + the tiny
               # carry-in tables (all bucket-count-sized but hash-
               # partitioned nonetheless)
               "token_stats": 0, "simhash64": 1, "emb_near_dup": 1,
               "asof_join_keyless": 6,
               # redact_pii is a pure projection; pack_sequences is one
               # per-shard window shuffle; line_dedup spends two on the
               # distinct-count aggregate (partial+final across one
               # exchange pair); js_drift's six are all
               # O(days x categories)-sized stitch tables
               "redact_pii": 0, "pack_sequences": 1, "line_dedup": 2,
               "js_drift": 6,
               # round 4: baseline_drift's five are all O(days x
               # categories) stitch tables; ann_lsh_multi shuffles the
               # (table, bucket) join sides and the pair dedupe
               "baseline_drift": 5, "ann_lsh_multi": 3,
               # ks_baseline stitches O(days x buckets) tables like its
               # drift siblings; everything is broadcast-or-tiny
               "ks_baseline": 6,
               # temperature_sample: ONE corpus exchange (the stratum
               # count agg); the rate window is a single-partition pass
               # over #strata rows and the rate join is broadcast
               "temperature_sample": 1,
               # decontamination: corpus-side winnowing window (per-doc
               # local sort), the (doc, eval) shared-count agg, and the
               # eval-total agg; eval fingerprints join broadcast
               "decontamination": 3,
               # chunk_documents is a pure projection + Generate;
               # ngram_topk spends two on the (gram,doc) then gram
               # aggregations (the top-k is TakeOrderedAndProject,
               # not a sort exchange)
               "chunk_documents": 0, "ngram_topk": 2,
               # snapshot_diff: the two sides of the full-outer join —
               # text never crosses the wire (digest projections only)
               "snapshot_diff": 2,
               # mix_corpus: ONE exchange (the per-source token-sum
               # agg); the rate join back onto the corpus is broadcast
               "mix_corpus": 1,
               # dedup_lines_in_doc / filter_urls are pure
               # projections / filters
               "dedup_lines_in_doc": 0, "filter_urls": 0,
               # take_per_stratum: the one per-stratum window sort
               "take_per_stratum": 1,
               # perplexity_split: unigram's derived-vocab join +
               # aggregations plus the per-language window and the
               # lang join — all bounded, no corpus re-explode
               "perplexity_split": 7,
               # html_extract is a pure projection (regex only)
               "html_extract": 0,
               # rate_anomalies: the bucket-count agg + the
               # per-entity window — shuffles carry counts, not events
               "rate_anomalies": 2}
    import re

    for name, max_exchanges in budgets.items():
        df = e.queries()[name](spark, sf)
        plan = _plan(df)
        # count DISTINCT exchange nodes: a persisted subtree prints
        # once per consuming branch, repeating the same plan_id — the
        # repeats execute once (InMemoryTableScan)
        n = len(set(re.findall(
            r"Exchange hashpartitioning.*?\[plan_id=(\d+)\]", plan)))
        assert n <= max_exchanges, (name, n, max_exchanges)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                       "MapInPandas"):
            assert marker not in plan, (name, marker)


def test_near_dedup_anti_join_not_forced_broadcast(docs):
    """The final keep-canonical cut of near_dedup_corpus anti-joins
    against the loser id set, whose size is the corpus DUP RATE — a
    forced broadcast hint would ship a corpus-sized id list at exactly
    the scale dedup exists for (VERDICT r3 #1). With size estimation
    disabled (simulating a loser set Spark cannot prove small) the
    anti-join must degrade to a SHUFFLED anti join; AQE may still
    choose broadcast at runtime when it measures the set small."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.dedup import near_dedup_corpus

    spark = docs.sparkSession
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = near_dedup_corpus(
            docs.select("doc_id", "text").filter(F.col("text").isNotNull()),
            threshold=0.5)
        plan = _plan(out)
        anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti_lines, "expected a left-anti join in the plan"
        assert not any("BroadcastHashJoin" in ln for ln in anti_lines), \
            "loser-set anti-join carries a forced broadcast"
    finally:
        release_caches()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_unigram_logprob_single_pass(docs):
    """r3 regression fix: the token explode is cached (one scan+explode
    feeds both the derived model and the scoring join) and n_tokens
    folds into the SAME aggregation as the logprob mean — no closing
    join on the document id."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.textanalysis import unigram_logprob

    try:
        out = unigram_logprob(docs)
        plan = _plan(out)
        assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
        join_lines = [ln for ln in plan.splitlines()
                      if "Join" in ln and "doc_id#" in ln]
        assert not join_lines, f"closing join on doc_id: {join_lines}"
    finally:
        release_caches()


def test_unigram_logprob_derived_vocab_not_broadcast(docs):
    """The derived vocabulary is every distinct corpus token — billions
    of rows at web scale — so the model join must NOT carry a broadcast
    hint. With size estimation disabled (simulating a vocab Spark
    cannot prove small) the derived model join must degrade to a
    shuffle join, while an external vocab — a bounded reference model —
    keeps its explicit broadcast hint regardless."""
    from json_schema_spark.textops.textanalysis import unigram_logprob

    def t_keyed_broadcast_joins(plan: str) -> list[str]:
        return [ln for ln in plan.splitlines()
                if "BroadcastHashJoin" in ln and "[t#" in ln]

    spark = docs.sparkSession
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        derived = unigram_logprob(docs)
        plan = _plan(derived)
        assert not t_keyed_broadcast_joins(plan)  # model join unhinted
        vocab = spark.createDataFrame(
            [("the", 100), ("a", 50)], "t string, n_t long")
        external = unigram_logprob(docs, vocab=vocab)
        assert t_keyed_broadcast_joins(_plan(external))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_media_dedup_plans_arrow_only_no_cartesian(spark):
    """The media perceptual-dedup pipelines (image/video/audio pairs,
    one-call media dedup) must keep Python strictly Arrow-batched
    (MapInPandas — the sanctioned decode step) with NO row-at-a-time
    Python, and the pigeonhole self-join must be a real equi-join:
    no CartesianProduct / BroadcastNestedLoopJoin anywhere, at any
    corpus size."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.multimodal import (
        audio_near_duplicates, encode_gif_gray_frames, encode_wav_pcm,
        near_dedup_media, video_near_duplicates)

    def sig(i):
        return [(i * 7 + (t // 10) * 29) % 97 for t in range(650)]

    def anim(k):
        return encode_gif_gray_frames(
            [[[(k * 7 + x * 13 + y * 31 + f * 41) % 251
               for x in range(9)] for y in range(8)] for f in range(4)])

    wav = spark.createDataFrame(
        [(i, encode_wav_pcm(sig(i))) for i in range(20)],
        "doc_id long, blob binary")
    gif = spark.createDataFrame(
        [(i, anim(i)) for i in range(10)], "doc_id long, blob binary")
    builders = [
        ("audio", lambda: audio_near_duplicates(wav, "blob", "doc_id")),
        ("video", lambda: video_near_duplicates(gif, "blob", "doc_id",
                                                every_n=2)),
        ("media", lambda: near_dedup_media(wav, "blob", "doc_id",
                                           kind="audio")),
    ]
    try:
        for tag, build in builders:
            plan = _plan(build())
            for marker in ("BatchEvalPython", "ArrowEvalPython",
                           "PythonUDF", "CartesianProduct",
                           "BroadcastNestedLoopJoin"):
                assert marker not in plan, (tag, marker)
            if tag != "media":
                assert "MapInPandas" in plan, tag
            else:
                # the one-call form resolves the tiny dup graph during
                # construction (dedup_groups' small-graph fast path), so
                # its FINAL plan is just the keep-canonical anti-join
                assert "LeftAnti" in plan, tag
            release_caches()
    finally:
        release_caches()


def test_continuation_operator_plan_shapes(docs, spark):
    """Round-4 continuation operators: all pure-Catalyst (zero Python
    anywhere — these are joins/aggregates/projections, not decode
    pipelines), no cartesian/nested-loop joins, and the single-pass
    claims hold (one split per doc for the shingle/token explodes)."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.dedup import corpus_overlap
    from json_schema_spark.textops.html import link_graph
    from json_schema_spark.textops.sampling import cap_per_group
    from json_schema_spark.textops.textanalysis import (
        dedup_paragraphs_global, dsir_select, encoding_artifacts,
        quality_score, tfidf_topk)

    from pyspark.sql import functions as F

    en = docs.filter(F.col("lang") == "en")
    pages = docs.filter(F.col("text").isNotNull()).select(
        F.concat(F.lit("s"), (F.col("doc_id") % 5).cast("string"))
        .alias("src_host"),
        F.concat(F.lit('<a href="https://h'),
                 (F.col("doc_id") % 9).cast("string"),
                 F.lit('.com/p">x</a>')).alias("html"))
    scored = (docs.filter(F.col("text").isNotNull())
              .withColumn("q", quality_score(F.col("text"))))
    builders = [
        ("overlap", lambda: corpus_overlap(docs)),
        ("dsir", lambda: dsir_select(docs, en, n=10)),
        ("tfidf", lambda: tfidf_topk(docs, k=3)),
        ("cap", lambda: cap_per_group(
            scored, "lang", 5, [F.col("q").desc(), F.col("doc_id")],
            salt_shards=3)),
        ("links", lambda: link_graph(pages)),
        ("paras", lambda: dedup_paragraphs_global(docs)),
        ("moji", lambda: encoding_artifacts(docs)),
    ]
    try:
        for tag, build in builders:
            plan = _plan(build())
            markers = ["BatchEvalPython", "ArrowEvalPython",
                       "PythonUDF", "MapInPandas", "CartesianProduct"]
            # Broadcast nested loop is sanctioned in exactly two
            # shapes here: corpus_overlap's inequality self-compare
            # over the CACHED n_groups-row signature table, and the
            # one-row totals crossJoin(broadcast(...)) in dsir/tfidf
            # (same idiom as unigram_logprob). Everything else must
            # stay equi-join only.
            if tag not in ("overlap", "dsir", "tfidf"):
                markers.append("BroadcastNestedLoopJoin")
            for marker in markers:
                assert marker not in plan, (tag, marker)
            if tag == "overlap":
                assert "InMemoryTableScan" in plan, \
                    "signature table must be cached for the self-join"
            release_caches()
    finally:
        release_caches()

    # the no-CSE-in-lambdas trap: the words array must be a BOUND
    # ATTRIBUTE inside the shingle lambda (slice(_w#n, ...)), never
    # the split expression itself — that form re-splits the text per
    # shingle element (O(words^2)/doc). split() elsewhere (the
    # pushed-down size filter, the materializing Project) is per-row
    # and fine; plan STRINGS also repeat the cached subtree per
    # self-join branch, so a raw count is not meaningful.
    import re

    overlap_opt = _optimized(corpus_overlap(docs))
    for m in re.finditer(r"lambdafunction\(", overlap_opt):
        depth, j = 0, m.end() - 1
        while j < len(overlap_opt):
            depth += {"(": 1, ")": -1}.get(overlap_opt[j], 0)
            if depth == 0:
                break
            j += 1
        assert "split(" not in overlap_opt[m.start():j], \
            "split() re-evaluated inside a shingle lambda"
    release_caches()


def test_round5_session2_operator_plan_shapes(docs, spark):
    """Round-5 session-2 operators: url_path_templates / host_quality
    / string_format_profile are one-projection-one-aggregate (zero
    Python, no nested-loop joins, <=2 hash exchanges — count_distinct
    legitimately plans a two-level expand/agg); near_dedup_keep_best's
    winner selection is an AGGREGATE (max of a struct), never a
    row_number window over group members, so a hot dup clique
    collapses map-side instead of sorting in one task."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.dedup import near_dedup_keep_best
    from json_schema_spark.textops.textanalysis import host_quality
    from json_schema_spark.textops.urls import url_path_templates
    from json_schema_spark.validator.infer import string_format_profile

    from pyspark.sql import functions as F

    urled = docs.filter(F.col("text").isNotNull()).select(
        F.concat(F.lit("https://h"),
                 (F.col("doc_id") % 5).cast("string"),
                 F.lit(".example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "text")
    jsons = docs.filter(F.col("text").isNotNull()).select(
        F.concat(F.lit('{"v": "x'), F.col("doc_id").cast("string"),
                 F.lit('"}')).alias("doc"))
    for tag, build in [
        ("templates", lambda: url_path_templates(urled)),
        ("hostq", lambda: host_quality(urled)),
        ("formats", lambda: string_format_profile(jsons)),
    ]:
        plan = _plan(build())
        for marker in ("BatchEvalPython", "ArrowEvalPython",
                       "PythonUDF", "MapInPandas", "CartesianProduct",
                       "BroadcastNestedLoopJoin"):
            assert marker not in plan, (tag, marker)
        assert plan.count("Exchange hashpartitioning") <= 2, tag

    try:
        out = near_dedup_keep_best(docs.filter(F.col("text").isNotNull())
                                   .select("doc_id", "text"),
                                   threshold=0.5)
        plan = _plan(out)
        assert "Window" not in plan, \
            "keep-best winner must be an aggregate, not a window sort"
        assert "CartesianProduct" not in plan
    finally:
        release_caches()


def test_round5_session3_operator_plan_shapes(docs, spark):
    """Round-5 session-3 operators: domain_rollup is one projection +
    ONE hash aggregate (zero Python, no nested-loop joins, <=2 hash
    exchanges — the two count_distincts share Spark's expand/agg
    rewrite); hits() is pure joins/aggregates — its only
    nested-loop joins are the sanctioned one-row q-scalar crossJoins
    (one per half-step), never a CartesianProduct, and zero Python."""
    from json_schema_spark.cache import release_caches
    from json_schema_spark.textops.graph import hits
    from json_schema_spark.textops.urls import domain_rollup

    from pyspark.sql import functions as F

    urled = docs.filter(F.col("text").isNotNull()).select(
        F.concat(F.lit("https://h"),
                 (F.col("doc_id") % 5).cast("string"),
                 F.lit(".example.co.uk/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "text")
    plan = _plan(domain_rollup(urled))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                   "MapInPandas", "CartesianProduct",
                   "BroadcastNestedLoopJoin"):
        assert marker not in plan, marker
    assert plan.count("Exchange hashpartitioning") <= 2

    from json_schema_spark.textops.html import collapse_by_canonical
    pages = docs.filter(F.col("text").isNotNull()).select(
        F.concat(F.lit("https://h"),
                 (F.col("doc_id") % 5).cast("string"),
                 F.lit(".ex.com/p?v="),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit('<html><head><link rel="canonical" '
              'href="https://c.ex.com/x"></head></html>')
        .alias("html"))
    plan = _plan(collapse_by_canonical(pages))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                   "MapInPandas", "CartesianProduct",
                   "BroadcastNestedLoopJoin", "Window"):
        assert marker not in plan, marker
    assert plan.count("Exchange hashpartitioning") <= 1, \
        "canonical collapse must be one aggregate, no window sort"

    from json_schema_spark.sources.warc import parse_warc
    warcs = docs.filter(F.col("text").isNotNull()).select(
        F.concat(F.lit("WARC/1.0\nWARC-Type: response\n\n"),
                 F.col("text"), F.lit("\n\n")).alias("warc"))
    plan = _plan(parse_warc(warcs))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                   "MapInPandas", "CartesianProduct",
                   "BroadcastNestedLoopJoin",
                   "Exchange hashpartitioning"):
        assert marker not in plan, marker  # zero shuffle, zero Python

    # pure-projection battery: zero shuffle, zero Python
    from json_schema_spark.textops.robots import parse_sitemaps
    from json_schema_spark.textops.textanalysis import soft404_flags
    sm = docs.filter(F.col("text").isNotNull()).select(
        F.lit("h.ex.com").alias("host"),
        F.concat(F.lit("<urlset><url><loc>https://h.ex.com/"),
                 F.col("doc_id").cast("string"),
                 F.lit("</loc></url></urlset>")).alias("sitemap_xml"))
    for tag, build in [
        ("soft404", lambda: soft404_flags(
            docs.filter(F.col("text").isNotNull()))),
        ("sitemaps", lambda: parse_sitemaps(sm)),
    ]:
        plan = _plan(build())
        for marker in ("BatchEvalPython", "ArrowEvalPython",
                       "PythonUDF", "MapInPandas", "CartesianProduct",
                       "BroadcastNestedLoopJoin",
                       "Exchange hashpartitioning"):
            assert marker not in plan, (tag, marker)

    # recrawl_schedule: one full-outer url-digest join + one host agg
    from json_schema_spark.textops.dedup import recrawl_schedule
    snap = docs.filter(F.col("text").isNotNull()).select(
        F.concat(F.lit("https://s.ex.com/"),
                 F.col("doc_id").cast("string")).alias("url"), "text")
    plan = _plan(recrawl_schedule(snap, snap))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF",
                   "MapInPandas", "CartesianProduct",
                   "BroadcastNestedLoopJoin"):
        assert marker not in plan, marker
    assert "SortMergeJoin FullOuter" in plan or "FullOuter" in plan
    assert plan.count("Exchange hashpartitioning") <= 3

    edges = docs.filter(F.col("text").isNotNull()).select(
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
        .alias("src_host"),
        F.concat(F.lit("h"), (F.col("doc_id") % 11).cast("string"))
        .alias("dst_host"))
    try:
        plan = _plan(hits(edges, iterations=2))
        for marker in ("BatchEvalPython", "ArrowEvalPython",
                       "PythonUDF", "MapInPandas", "CartesianProduct"):
            assert marker not in plan, marker
        # one-row q-total crossJoins: at most one BNLJ per half-step.
        # count DISTINCT nodes — persisted/branch subtrees print once
        # per consumer, repeating the same plan_id
        import re
        bnlj = set(re.findall(
            r"BroadcastNestedLoopJoin.*?\[plan_id=(\d+)\]", plan))
        assert len(bnlj) <= 4, bnlj
    finally:
        release_caches()


def test_adversarial_skew_fixture(spark):
    """VERDICT r4 #5: the engine's skew answers, stressed TOGETHER on
    one deterministic corpus (Zipf-1.2 hosts + one giant duplicate
    digest + one hot LSH band + one degenerate embedding cell):

    - exact dedup (duplicate_keys) finds the hot digest with its exact
      count;
    - dedup_minhash_lsh with max_bucket_size keeps every banded join
      bucket <= the cap (bounded per-task input: no join task reads
      more than cap rows per bucket side), where the UNCAPPED band
      table provably holds multi-thousand-row buckets;
    - cap_per_domain's salted top-n equals the plain window on the
      Zipf hosts and bounds every group;
    - semantic_dedup's max_cluster_size excludes the degenerate cell
      instead of pair-joining it.
    """
    from json_schema_spark.cache import release_caches
    from json_schema_spark.checks.uniqueness import duplicate_keys
    from json_schema_spark.sources.webtext import generate_skewed_corpus
    from json_schema_spark.textops import dedup as dd
    from json_schema_spark.textops.sampling import cap_per_group
    from json_schema_spark.textops.similarity import semantic_dedup

    n, n_dup, n_hot = 20_000, 2_000, 1_500
    corpus = generate_skewed_corpus(spark, n, n_dup=n_dup,
                                    n_hot_band=n_hot).cache()
    try:
        # --- hot digest: Spark's partial aggregation counts it map-side
        dups = duplicate_keys(
            corpus.select(F.md5("text").alias("digest")), ["digest"])
        hot = {r["digest"]: r["dup_count"] for r in dups.collect()}
        assert max(hot.values()) == n_dup

        # --- banded LSH: uncapped buckets are huge, capped are bounded
        cap = 50
        sig = dd.minhash_signature_table(corpus)
        bands = sig.select(
            "_id", F.posexplode(
                dd.lsh_band_hashes(F.col("_sig"), 4, 4))
            .alias("band_idx", "band_hash"))
        sizes = (bands.groupBy("band_idx", "band_hash")
                 .agg(F.count(F.lit(1)).alias("m")))
        uncapped_max = sizes.agg(F.max("m")).collect()[0][0]
        assert uncapped_max >= n_dup  # the fixture IS adversarial
        pairs = dd.near_duplicates(corpus, threshold=0.8,
                                   max_bucket_size=cap)
        n_pairs = pairs.count()
        # every surviving bucket contributes <= cap^2/2 pairs; with the
        # two hot groups dropped the candidate volume collapses versus
        # the ~ n_dup^2/2 + n_hot^2/2 uncapped worst case
        assert n_pairs < (n_dup ** 2) // 8

        # --- salted per-domain cap == plain window, bounded groups ---
        order = [F.col("doc_id")]
        plain = cap_per_group(corpus, "host", 5, order, id_col="doc_id")
        salted = cap_per_group(corpus, "host", 5, order,
                               salt_shards=16, id_col="doc_id")
        assert sorted((r["doc_id"], r["rank_in_group"])
                      for r in plain.collect()) \
            == sorted((r["doc_id"], r["rank_in_group"])
                      for r in salted.collect())
        per_host = (salted.groupBy("host")
                    .agg(F.count(F.lit(1)).alias("c"))
                    .agg(F.max("c")).collect()[0][0])
        assert per_host <= 5

        # --- degenerate embedding cell excluded, job completes ---
        kept = semantic_dedup(corpus, id_col="doc_id",
                              vec_col="embedding",
                              max_cluster_size=500)
        n_kept = kept.count()
        # the n_dup identical-embedding docs sit in one excluded cell
        # (kept verbatim, not pair-joined); the rest dedups normally
        assert n_dup <= n_kept <= n
    finally:
        corpus.unpersist()
        release_caches()
