"""The evaluator's bitmask annotation and the outputs derived from it:
violation rows in constraint order, observed metrics and per-partition
verdicts, pinned to hand-computed values; url uniqueness without the
join back; and the validation-plan cache and the set hash it keys on."""

from collections import Counter

from pyspark.sql import functions as F

from json_schema_spark import ConstraintSet, validate
from json_schema_spark.checks import uniqueness_violations


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_fixture_outputs_pinned(spark):
    df = spark.createDataFrame(
        [("r1", "abc", 5), ("r2", "b", -1), ("r3", None, 11),
         ("r4", "xy", None)],
        "id string, s string, n long").coalesce(1)
    cset = ConstraintSet(columns={
        "s": {"minLength": 2, "pattern": "^a"},
        "n": {"minimum": 0, "maximum": 10}})
    res = validate(df, cset, id_col="id", observe=True)
    assert res.constraint_ids == ["s.minLength", "s.pattern",
                                  "n.minimum", "n.maximum"]
    assert _rows(res.violations()) == [
        ("r2", "s.minLength", "b"), ("r2", "s.pattern", "b"),
        ("r2", "n.minimum", "-1"),
        ("r3", "n.maximum", "11"),
        ("r4", "s.pattern", "xy")]
    m = res.metrics()
    assert (m["rows_total"], m["rows_failed"], m["violations_total"]) \
        == (4, 3, 5)
    assert _rows(res.partition_verdicts(by=F.lit("p"))) \
        == [("p", 4, 3, 5, False)]
    assert _rows(res.partition_verdicts(by="id").orderBy("partition_key")) \
        == [("r1", 1, 0, 0, True), ("r2", 1, 1, 3, False),
            ("r3", 1, 1, 1, False), ("r4", 1, 1, 1, False)]
    assert _rows(res.valid_rows()) == [("r1", "abc", 5)]


def test_second_mask_word(spark):
    """70 constraints take two mask words; failures on either side of the
    63-bit boundary come out in constraint order."""
    n = 70
    cols = [f"c{i}" for i in range(n)]
    failing = [0, 62, 63, 69]
    bad = [-1 if i in failing else 1 for i in range(n)]
    df = spark.createDataFrame(
        [("ok", *[1] * n), ("bad", *bad)],
        "id string, " + ", ".join(f"{c} long" for c in cols)).coalesce(1)
    cset = ConstraintSet(columns={c: {"minimum": 0} for c in cols})
    res = validate(df, cset, id_col="id", observe=True)
    assert [c for c in res.annotated.columns if c.startswith("_mask")] \
        == ["_mask0", "_mask1"]
    assert _rows(res.violations()) == [
        ("bad", f"c{i}.minimum", "-1") for i in failing]
    m = res.metrics()
    assert (m["rows_failed"], m["violations_total"]) == (1, 4)
    assert _rows(res.partition_verdicts(by=F.lit("p"))) \
        == [("p", 2, 1, 4, False)]
    masks = res.annotated.filter(F.col("id") == "bad") \
        .select("_mask0", "_mask1").first()
    assert (masks[0], masks[1]) == (1 | 1 << 62, 1 | 1 << 6)


def test_empty_constraint_set(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "id string, v long")
    res = validate(df, ConstraintSet(columns={}), id_col="id", observe=True)
    v = res.violations()
    assert v.columns == ["id", "constraint_id", "observed_value"]
    assert v.collect() == []
    m = res.metrics()
    assert (m["rows_total"], m["rows_failed"], m["violations_total"]) \
        == (2, 0, 0)
    assert _rows(res.partition_verdicts(by=F.lit("p"))) \
        == [("p", 2, 0, 0, True)]
    assert res.valid_rows().columns == ["id", "v"]
    assert res.valid_rows().count() == 2


def test_partition_verdicts_count_dataset_level_rows(spark):
    """A duplicated url fails its partition, as the checkpoint verdict
    says: n_violations counts the url.unique rows, each in the
    partition of the row it names."""
    df = spark.createDataFrame(
        [("u1", "d1", 1), ("u1", "d1", 2), ("u2", "d1", 3)],
        "url string, day string, v long")
    cset = ConstraintSet(columns={"v": {"minimum": 0}}, unique=["url"])
    assert _rows(validate(df, cset).partition_verdicts(by="day")) \
        == [("d1", 3, 0, 2, False)]
    # the duplicate pair split over two days: one violation in each
    split = df.withColumn(
        "day", F.when(F.col("v") == 2, "d2").otherwise("d1"))
    verdicts = validate(split, cset).partition_verdicts(by="day")
    assert _rows(verdicts.orderBy("partition_key")) \
        == [("d1", 2, 0, 1, False), ("d2", 1, 0, 1, False)]


def test_id_uniqueness_reports_every_duplicate_row(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("c", 4), ("c", 5), ("c", 6),
         (None, 7), (None, 8)], "url string, k long")
    got = Counter(_rows(uniqueness_violations(df, ["url"])))
    # null keys are never reported
    assert got == Counter({("a", "url.unique", "a"): 2,
                           ("c", "url.unique", "c"): 3})
    # the join path on the same key (reported through a copy of the id)
    # gives the same multiset
    joined = uniqueness_violations(df.withColumn("id", F.col("url")),
                                   ["url"], id_col="id")
    assert Counter(_rows(joined)) == got
    # composite key: the join path, one row per duplicated row
    pairs = spark.createDataFrame(
        [("u1", "x"), ("u2", "x"), ("u3", "y"), ("u4", "y"), ("u5", None),
         ("u6", None)], "url string, host string")
    got = Counter(_rows(uniqueness_violations(
        pairs.withColumn("d", F.lit("d")), ["host", "d"])))
    assert got == Counter({("u1", "host.d.unique", "x|d"): 1,
                           ("u2", "host.d.unique", "x|d"): 1,
                           ("u3", "host.d.unique", "y|d"): 1,
                           ("u4", "host.d.unique", "y|d"): 1})


def _counting_compiler(monkeypatch):
    """Record each compile_constraints call the evaluator makes; starts
    from an empty plan cache."""
    from json_schema_spark.constraints import evaluator

    calls = []
    real = evaluator.compile_constraints

    def counted(cset, schema):
        calls.append(cset.name)
        return real(cset, schema)

    monkeypatch.setattr(evaluator, "compile_constraints", counted)
    evaluator.clear_plan_cache()
    return calls


def test_second_validate_compiles_nothing(spark, monkeypatch):
    """The plan is keyed by content, schema and dataset_checks: an equal
    set (another object) over the same schema reuses it; a changed set,
    schema or dataset_checks compiles again."""
    calls = _counting_compiler(monkeypatch)
    df = spark.createDataFrame([("a", 1), ("b", -1)], "id string, n long")
    first = validate(df, ConstraintSet(columns={"n": {"minimum": 0}},
                                       name="once"), id_col="id")
    second = validate(df, ConstraintSet(columns={"n": {"minimum": 0}},
                                        name="again"), id_col="id",
                      observe=True)
    assert calls == ["once"]
    assert _rows(first.violations()) == _rows(second.violations()) \
        == [("b", "n.minimum", "-1")]
    assert second.metrics() == {"rows_total": 2, "rows_failed": 1,
                                "violations_total": 1}

    validate(df, ConstraintSet(columns={"n": {"minimum": 1}}), id_col="id")
    validate(df.withColumn("x", F.lit(1)), first.cset, id_col="id")
    validate(df, first.cset, id_col="id", dataset_checks=False)
    assert len(calls) == 4


def test_register_format_invalidates_cached_plan(spark):
    """Re-registering a format drops the plans built with its old
    builder: the verdicts follow the new one."""
    from json_schema_spark import register_format

    df = spark.createDataFrame([("a", "xx"), ("b", "yyy")],
                               "id string, s string")
    cset = ConstraintSet(columns={"s": {"format": "test-length"}})
    register_format("test-length", lambda c: F.length(c) == 2)
    assert _rows(validate(df, cset, id_col="id").violations()) \
        == [("b", "s.format", "yyy")]
    register_format("test-length", lambda c: F.length(c) == 3)
    assert _rows(validate(df, cset, id_col="id").violations()) \
        == [("a", "s.format", "xx")]


def test_plan_cache_is_bounded(spark, monkeypatch):
    """The LRU never holds more than PLAN_CACHE_SIZE plans, and a plan
    used since the oldest was built survives the eviction."""
    from pyspark.sql import types as T

    from json_schema_spark.constraints import evaluator

    calls = _counting_compiler(monkeypatch)
    schema = T.StructType([T.StructField("n", T.LongType())])

    def plan(i):
        return evaluator.validation_plan(
            ConstraintSet(columns={"n": {"minimum": i}}, name=str(i)),
            schema)

    for i in range(evaluator.PLAN_CACHE_SIZE + 1):
        plan(i)
        assert len(evaluator._PLANS) <= evaluator.PLAN_CACHE_SIZE
        if i == 1:
            plan(0)  # touched: now newer than plan 1
    assert len(evaluator._PLANS) == evaluator.PLAN_CACHE_SIZE
    n_built = len(calls)
    plan(0)
    plan(evaluator.PLAN_CACHE_SIZE)
    assert len(calls) == n_built
    plan(1)
    assert calls[-1] == "1"


def test_plan_cache_under_concurrent_lookups(spark, monkeypatch):
    """Eight threads (twice the cores) look up and evict 40 plans at a
    short switch interval: no lookup fails, each gets the plan of its own
    set, and the LRU stays within its bound. Plans are stubbed, so the
    threads spend their time in the cache, not in Py4J."""
    import sys
    import threading

    from pyspark.sql import types as T

    from json_schema_spark.constraints import evaluator

    monkeypatch.setattr(evaluator, "_build_plan",
                        lambda cset, schema, dataset_checks, id_col:
                        cset.columns["n"]["minimum"])
    evaluator.clear_plan_cache()
    schema = T.StructType([T.StructField("n", T.LongType())])
    sets = [ConstraintSet(columns={"n": {"minimum": i}}) for i in range(40)]
    errors, bad = [], []

    def work(t):
        try:
            for j in range(2000):
                i = (7 * t + j) % 40
                if evaluator.validation_plan(sets[i], schema) != i:
                    bad.append(i)
                with evaluator._PLANS_LOCK:  # between two updates
                    if len(evaluator._PLANS) > evaluator.PLAN_CACHE_SIZE:
                        bad.append("size")
        except Exception as exc:  # reported by the assert below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,))
                   for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
        evaluator.clear_plan_cache()
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and bad == []


def test_warm_flagship_build_round_trips(spark, monkeypatch):
    """Building validate_webtext(df).violations() from a cached plan
    takes at most 100 Py4J round trips, and the row-level call
    (dataset_checks=False) at most 70: every Column comes from the plan,
    and a call only applies them (about 3,100 when every call rebuilt
    every Column, 314 and 153 when the plan held only the row-level
    pass). py4j's deferred releases of earlier objects (memory commands)
    are not part of the build and are not counted."""
    import py4j.clientserver as cs

    from json_schema_spark.flagship import (
        validate_webtext,
        webtext_constraints,
    )
    from json_schema_spark.sources.webtext import generate_webtext

    df = generate_webtext(spark, 200)
    real = cs.ClientServerConnection.send_command

    def round_trips(build):
        build()
        sent = []

        def counted(self, command):
            sent.append(command)
            return real(self, command)

        monkeypatch.setattr(cs.ClientServerConnection, "send_command",
                            counted)
        build()
        monkeypatch.undo()
        return sum(not c.startswith("m\n") for c in sent)

    n = round_trips(lambda: validate_webtext(df).violations())
    assert 0 < n <= 100
    n = round_trips(lambda: validate(
        df, webtext_constraints(), dataset_checks=False).violations())
    assert 0 < n <= 70


def test_content_hash_keeps_list_hashes():
    """A set whose allow-lists Python can sort hashes as it always has,
    so checkpoint manifests written before stay valid."""
    from json_schema_spark.flagship import webtext_constraints

    assert webtext_constraints().content_hash() == "e2839f4ed4862808"


def test_none_allow_list_hashes_and_validates(spark):
    """content_hash is total: an allow-list with None or mixed types
    hashes, independent of order. validate() on it gives the violation
    rows it gave before the plan cache keyed on that hash."""
    with_none = ConstraintSet(referential={"lang": ["en", None]})
    assert with_none.content_hash() \
        == ConstraintSet(referential={"lang": [None, "en"]}).content_hash()
    mixed = ConstraintSet(referential={"lang": ["en", 1]}).content_hash()
    assert mixed == ConstraintSet(
        referential={"lang": [1, "en"]}).content_hash()
    assert mixed != with_none.content_hash()
    # a tuple allow-list hashes by its values, like the equal list
    assert ConstraintSet(referential={"lang": ("en", "de")}).content_hash() \
        == ConstraintSet(referential={"lang": ["de", "en"]}).content_hash()

    df = spark.createDataFrame(
        [("a", "en"), ("b", None), ("c", "de"), ("d", "xx")],
        "id string, lang string")
    assert sorted(_rows(validate(df, with_none, id_col="id").violations())) \
        == [("c", "lang.referential", "de"), ("d", "lang.referential", "xx")]


def test_violations_evaluate_each_predicate_once(spark):
    """With or without the observation, the optimized plan of
    violations() holds each row-level predicate once: a Filter on
    ``~_ok`` pushed into the mask projection would repeat every one."""
    df = spark.createDataFrame([("a", "xyz")], "id string, s string")
    cset = ConstraintSet(columns={"s": {"pattern": "^q+z$"}})
    for observe in (True, False):
        res = validate(df, cset, id_col="id", observe=observe)
        plan = res.violations()._jdf.queryExecution() \
            .optimizedPlan().toString()
        assert plan.count("^q+z$") == 1, (observe, plan)
        assert _rows(res.violations()) == [("a", "s.pattern", "xyz")]


def test_null_format_verdict_fails_except_under_not_and_one_of(spark):
    """A format whose check is NULL on every value: the NULL verdict is a
    violation, ``not`` passes because its operand failed, and the branch
    of ``oneOf`` counts as failed, so the other branch alone matches."""
    from json_schema_spark.constraints import formats
    from json_schema_spark.constraints.evaluator import clear_plan_cache

    formats.register_format("null-check",
                            lambda c: F.lit(None).cast("boolean"))
    try:
        df = spark.createDataFrame([("a", "x")], "id string, s string")

        def violated(spec):
            res = validate(df, ConstraintSet(columns={"s": spec}),
                           id_col="id", observe=False)
            return _rows(res.violations())

        assert violated({"format": "null-check"}) \
            == [("a", "s.format", "x")]
        assert violated({"not": {"format": "null-check"}}) == []
        assert violated({"oneOf": [{"format": "null-check"},
                                   {"minLength": 0}]}) == []
    finally:
        # register_format mutates the module's registry: undo it, and
        # drop the plans built with the NULL check
        del formats._REGISTRY["null-check"]
        clear_plan_cache()
