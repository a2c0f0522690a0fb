"""Webtext synthesizer invariants + flagship validation end-to-end."""

import pytest
from pyspark.sql import functions as F

from json_schema_spark.flagship import validate_webtext, webtext_constraints
from json_schema_spark.sources.webtext import generate_webtext

N = 6000


@pytest.fixture(scope="module")
def webtext(spark):
    return generate_webtext(spark, N).cache()


def test_schema_shape(webtext):
    assert [f.name for f in webtext.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"]
    kinds = {f.name: f.dataType.simpleString() for f in webtext.schema.fields}
    assert kinds == {"url": "string", "warc_ts": "timestamp",
                     "html": "binary", "text": "string", "lang": "string"}


def test_deterministic(spark, webtext):
    h1 = webtext.agg(F.bit_xor(F.xxhash64("url", "text", "lang"))).head()[0]
    again = generate_webtext(spark, N)
    h2 = again.agg(F.bit_xor(F.xxhash64("url", "text", "lang"))).head()[0]
    assert h1 == h2


def test_text_is_pure_function_of_url(webtext):
    # the byte-identical extracted-text invariant per url (input_hint)
    bad = (webtext.groupBy("url")
           .agg(F.count_distinct("text").alias("k"))
           .filter(F.col("k") > 1).count())
    assert bad == 0


def test_anomaly_rates(webtext):
    n = webtext.count()
    dup = n - webtext.select("url").distinct().count()
    assert 0.002 * n < dup < 0.03 * n          # ~1-2% duplicate urls
    null_text = webtext.filter(F.col("text").isNull()).count()
    assert 0.015 * n < null_text < 0.05 * n    # ~3% null text
    null_lang = webtext.filter(F.col("lang").isNull()).count()
    assert 0.003 * n < null_lang < 0.02 * n    # ~1% null lang
    bad_lang = webtext.filter(F.col("lang").isin("xx", "q1")).count()
    assert 0.003 * n < bad_lang < 0.02 * n     # ~0.8% bad codes


def test_flagship_validation(webtext):
    res = validate_webtext(webtext)
    summary = {r["constraint_id"]: r["n_violations"]
               for r in res.constraint_summary().collect()}
    # every injected anomaly family is caught by its constraint
    assert summary.get("url.unique", 0) > 0
    assert summary.get("url.format", 0) > 0
    assert summary.get("url.pattern", 0) > 0
    assert summary.get("lang.enum", 0) > 0
    assert summary.get("lang.referential", 0) > 0
    assert summary.get("text.minLength", 0) > 0
    # and nothing unexpected fires
    assert set(summary) <= {
        "url.unique", "url.format", "url.pattern", "url.type", "url.required",
        "lang.enum", "lang.referential", "text.minLength", "text.maxLength",
        "text.pattern", "text.type", "warc_ts.required", "html.type"}


def test_partition_verdicts_by_day(webtext):
    res = validate_webtext(webtext)
    days = res.partition_verdicts(by=F.to_date("warc_ts")).collect()
    assert len(days) == 30
    assert sum(r["n_rows"] for r in days) == N
    # dataset-level rows (url.unique) count in their day too
    assert sum(r["n_violations"] for r in days) == res.violations().count()
    assert all(r["pass"] == (r["n_violations"] == 0) for r in days)


def test_constraint_hash_stable():
    h1 = webtext_constraints().content_hash()
    h2 = webtext_constraints().content_hash()
    assert h1 == h2 and len(h1) == 16


def test_extraction_invariant_byte_identical(spark, webtext):
    """north_star: re-extracting text from html must reproduce the stored
    text byte-for-byte, checked as a pure-expression scan."""
    from json_schema_spark.textops.extraction import (
        extracted_text_violations, html_to_text)
    from pyspark.sql import functions as F

    assert extracted_text_violations(webtext).count() == 0

    # and the extractor handles real markup shapes
    df = spark.createDataFrame(
        [("u1", "<html><head><title>T</title></head>"
                "<body><p>Hello &amp; goodbye</p>"
                "<script>var x=1;</script></body></html>")],
        "url string, page string")
    out = df.select(html_to_text(
        F.encode(F.col("page"), "UTF-8")).alias("t")).head()["t"]
    # script/style blocks become a word-separating space
    assert out.strip() == "Hello & goodbye"
