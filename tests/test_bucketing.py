"""Bucketed co-located joins (no exchange) and salted skew joins."""

from __future__ import annotations

from tests.harness import plan_has_shuffle


def test_salted_join_matches_plain_join(spark):
    from json_schema_spark.sources.bucketing import salted_join

    # skewed left: one hot key with most rows
    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 0), (3, 1)],
        "k long, payload long")
    right = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (4, "unmatched")],
        "k long, name string")
    plain = {(r["k"], r["payload"], r["name"])
             for r in left.join(right, "k").collect()}
    salted = {(r["k"], r["payload"], r["name"])
              for r in salted_join(left, right, "k", salt=4).collect()}
    assert salted == plain
    assert len(salted) == 502


def test_salted_join_rejects_outer_and_collisions(spark):
    import pytest
    from pyspark.sql import functions as F

    from json_schema_spark.sources.bucketing import salted_join

    left = spark.range(10).select(F.col("id").alias("k"))
    right = spark.range(3).select(F.col("id").alias("k"),
                                  F.lit("x").alias("v"))
    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="right")
    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="full")
    with pytest.raises(ValueError):
        salted_join(left.withColumn("__jss_salt__", F.lit(1)), right, "k")
    # left join keeps unmatched left rows exactly once
    out = salted_join(left, right, "k", how="left")
    assert out.count() == 10


def test_snapshot_diff_on_bucketed_snapshots_has_no_shuffle(spark):
    """snapshot_diff's scale claim: writing both snapshots bucketed on
    the id makes the full-outer join co-located — zero exchange — and
    the delta itself is unchanged."""
    from json_schema_spark.textops.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "doc_id long, text string")
    plain = {(r.doc_id, r.status)
             for r in snapshot_diff(old, new).collect()}
    assert plain == {(2, "changed"), (3, "removed"), (4, "added")}

    for df, table in ((old, "b_snap_old"), (new, "b_snap_new")):
        (df.write.format("parquet").bucketBy(4, "doc_id").sortBy("doc_id")
         .mode("overwrite").saveAsTable(table))
    try:
        out = snapshot_diff(spark.table("b_snap_old"),
                            spark.table("b_snap_new"))
        assert not plan_has_shuffle(out), \
            "bucketed snapshot diff must not exchange"
        assert {(r.doc_id, r.status) for r in out.collect()} == plain
    finally:
        spark.sql("DROP TABLE IF EXISTS b_snap_old")
        spark.sql("DROP TABLE IF EXISTS b_snap_new")
