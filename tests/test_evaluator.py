"""The evaluator's bitmask annotation and the outputs derived from it:
violation rows in constraint order, observed metrics and per-partition
verdicts, pinned to hand-computed values; and url uniqueness without the
join back."""

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
    res = validate(df, cset, id_col="id")
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
    res = validate(df, cset, id_col="id")
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
    res = validate(df, ConstraintSet(columns={}), id_col="id")
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
