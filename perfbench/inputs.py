"""Seeded benchmark inputs: webtext rows and nested JSON documents.

The generator follows the shape and anomaly rates of the engine's own
webtext synthesizer (json_schema_spark/sources/webtext.py) but is owned by
the benchmark: it takes the seed as an argument, and it keeps beside every
row the flags of the anomalies it injected.  Output checks count from those
flags, never from the engine under test.  The engine only ever sees the
five webtext columns (or the JSON document strings built from them).

Injected anomalies, as in the engine's synthesizer:
- ~1% of rows reuse a neighbour's base id, so their url is duplicated; the
  day (and so the warc_day partition) is a function of the base id, so
  duplicates share a day;
- ~0.3% urls without a scheme, ~0.2% with an illegal host character;
- text ~3% null and ~1% empty, with a long-tailed length;
- html ~2% null;
- lang Zipf over ten allow-listed codes, ~0.8% bad codes, ~1% null;
- 20% of traffic on five hot hosts;
- the last five of thirty days draw text length and lang from a shifted
  distribution.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DAYS = 30
DRIFT_DAY = 25
T0 = "2025-06-01 00:00:00"
LANGS = ["en", "de", "fr", "es", "ru", "zh", "ja", "pt", "it", "nl"]
_LANG_CUM = [380, 570, 680, 760, 820, 870, 910, 945, 975, 1000]
_LANG_CUM_DRIFT = [220, 340, 420, 490, 640, 820, 890, 940, 975, 1000]

WEBTEXT_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
FLAG_COLUMNS = ["base_id", "day", "no_scheme", "bad_host", "empty_text",
                "bad_lang"]

# constraint ids of the flagship set, each with the flag that injects it
ROW_CONSTRAINT_FLAGS = {
    "url.format": ["no_scheme", "bad_host"],
    "url.pattern": ["no_scheme"],
    "text.minLength": ["empty_text"],
    "text.pattern": ["empty_text"],
    "lang.enum": ["bad_lang"],
    "lang.referential": ["bad_lang"],
}
UNIQUE_ID = "url.unique"
CONSTRAINT_IDS = sorted([*ROW_CONSTRAINT_FLAGS, UNIQUE_ID])
# the dataset-level checks, left out by validate(..., dataset_checks=False)
DATASET_IDS = {UNIQUE_ID, "lang.referential"}

# A draft-7 schema that validator.hybrid.is_fast_path rejects ($ref, array
# items, nested required, format, pattern, enum), so every document goes
# through the Arrow pandas UDF.  The document validator follows PHP
# delimiter rules: a '/' in a pattern must be written '\/'.
DOC_SCHEMA = {
    "definitions": {
        "link": {"type": "string", "format": "uri",
                 "pattern": r"^https?:\/\/"},
    },
    "type": "object",
    "required": ["id", "url", "fetch"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "url": {"$ref": "#/definitions/link"},
        "fetch": {
            "type": "object",
            "required": ["warc_ts", "day"],
            "properties": {
                "warc_ts": {"type": "string"},
                "day": {"type": "integer", "minimum": 0,
                        "maximum": DAYS - 1},
                "status": {"enum": [200, 301, 404]},
            },
        },
        "lang": {"enum": LANGS + [None]},
        "text": {"type": ["string", "null"], "minLength": 1},
        "outlinks": {"type": "array", "maxItems": 8,
                     "items": {"$ref": "#/definitions/link"}},
    },
}

# A flat schema the columnar fast path accepts, over the same documents.
FLAT_SCHEMA = {
    "type": "object",
    "required": ["url"],
    "properties": {
        "url": {"type": "string", "minLength": 8, "pattern": "^https?://"},
        "lang": {"type": ["string", "null"], "maxLength": 2},
        "text": {"type": ["string", "null"], "minLength": 1},
    },
}


def _h(col, seed: int, salt: int):
    return F.abs(F.xxhash64(col, F.lit(seed * 1000 + salt)))


def _lang_pick(r, cum):
    expr = F.lit(LANGS[-1])
    for code, hi in reversed(list(zip(LANGS, cum))):
        expr = F.when(r < hi, code).otherwise(expr)
    return expr


def webtext(spark: SparkSession, n_rows: int, seed: int,
            partitions: int) -> DataFrame:
    """Webtext rows (url, warc_ts, html, text, lang) plus the anomaly flags
    in FLAG_COLUMNS.  Same (n_rows, seed) gives the same table."""
    rid = F.col("id")
    df = spark.range(0, n_rows, 1, partitions)
    dup = F.pmod(_h(rid, seed, 1), F.lit(100)) == 0
    df = df.select(rid, F.when(dup, (rid / 13).cast("long") * 13)
                   .otherwise(rid).alias("base_id"))
    b = F.col("base_id")
    df = df.withColumn("day", F.pmod(_h(b, seed, 2), F.lit(DAYS)))
    day = F.col("day")

    hot = F.pmod(_h(b, seed, 3), F.lit(100)) < 20
    host_id = F.when(hot, F.pmod(_h(b, seed, 4), F.lit(5))) \
               .otherwise(F.pmod(_h(b, seed, 5), F.lit(10_000)) + 5)
    host = F.concat(F.lit("www.host"), host_id.cast("string"),
                    F.lit(".example"))
    path = F.concat(F.lit("/d"), day.cast("string"), F.lit("/page/"),
                    b.cast("string"))
    bad_roll = F.pmod(_h(b, seed, 6), F.lit(1000))
    df = df.withColumns({
        "no_scheme": bad_roll < 3,
        "bad_host": (bad_roll >= 3) & (bad_roll < 5),
        "url": F.when(bad_roll < 3, F.concat(host, path))
                .when(bad_roll < 5, F.concat(
                    F.lit("https://bad_host!"), host_id.cast("string"),
                    F.lit(".example"), path))
                .otherwise(F.concat(F.lit("https://"), host, path)),
        "outlink": F.concat(F.lit("https://"), host, F.lit("/d"),
                            day.cast("string"), F.lit("/page/"),
                            (b + 1).cast("string")),
    })

    # text is a function of the url, so duplicated urls carry equal text
    u = F.col("url")
    hu = F.md5(u)
    troll = F.pmod(F.abs(F.xxhash64(u, F.lit(seed * 1000 + 7))),
                   F.lit(1000))
    word = F.substring(hu, 1, 8)
    tail = F.pmod(F.conv(F.substring(hu, 9, 4), 16, 10).cast("long"),
                  F.lit(32))
    nrep = (F.when(day >= DRIFT_DAY, 24).otherwise(8)
            + tail * tail / F.lit(16)).cast("int")
    body = F.concat(F.lit("doc "), hu, F.lit(" "),
                    F.repeat(F.concat(word, F.lit(" ")), nrep))
    df = df.withColumns({
        "empty_text": (troll >= 30) & (troll < 40),
        "text": F.when(troll < 30, F.lit(None).cast("string"))
                 .when(troll < 40, F.lit("")).otherwise(body),
    })

    html = F.concat(F.lit("<html><head><title>"), word,
                    F.lit("</title></head><body><p>"),
                    F.coalesce(F.col("text"), F.lit("")),
                    F.lit("</p></body></html>"))
    lroll = F.pmod(_h(b, seed, 9), F.lit(1000))
    pick = F.pmod(_h(b, seed, 10), F.lit(1000))
    sec = day * 86400 + F.pmod(_h(rid, seed, 11), F.lit(86400))
    return df.withColumns({
        "html": F.when(F.pmod(_h(b, seed, 8), F.lit(100)) < 2,
                       F.lit(None).cast("binary"))
                 .otherwise(F.encode(html, "UTF-8")),
        "bad_lang": (lroll >= 10) & (lroll < 18),
        "lang": F.when(lroll < 10, F.lit(None).cast("string"))
                 .when(lroll < 14, F.lit("xx"))
                 .when(lroll < 18, F.lit("q1"))
                 .when(day >= DRIFT_DAY, _lang_pick(pick, _LANG_CUM_DRIFT))
                 .otherwise(_lang_pick(pick, _LANG_CUM)),
        "warc_ts": F.timestamp_seconds(
            F.unix_timestamp(F.lit(T0).cast("timestamp")) + sec),
    }).select("id", *WEBTEXT_COLUMNS, "outlink", *FLAG_COLUMNS)


def documents(rows: DataFrame, seed: int) -> DataFrame:
    """(id, doc): one nested JSON document per webtext row.  Besides the
    webtext anomalies, ~0.5% of documents lack the nested fetch.day and
    ~0.5% carry a status outside the enum; null lang or text is left out
    of the document."""
    rid = F.col("id")
    roll = F.pmod(_h(rid, seed, 12), F.lit(1000))
    n_links = F.pmod(_h(rid, seed, 13), F.lit(4)).cast("int")
    fetch = F.struct(
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
         .alias("warc_ts"),
        F.when(roll >= 5, F.col("day").cast("int")).alias("day"),
        F.when(roll < 10, 500).when(roll < 100, 301).otherwise(200)
         .alias("status"))
    doc = F.struct(rid.alias("id"), F.col("url"), fetch.alias("fetch"),
                   F.col("lang"), F.col("text"),
                   F.array_repeat(F.col("outlink"), n_links)
                    .alias("outlinks"))
    # null fields are left out of the document
    return rows.select(rid, F.to_json(doc).alias("doc"))


def expected_counts(flagged: DataFrame) -> dict[str, dict[str, int]]:
    """Per day: violation count per constraint id of the flagship set, and
    the row count under "rows".  Duplicates are counted by base id, which
    the engine never sees."""
    dup_rows = (flagged.groupBy("base_id", "day").count()
                .filter(F.col("count") > 1)
                .groupBy("day").agg(F.sum("count").alias(UNIQUE_ID)))
    per_row = flagged.groupBy("day").agg(
        F.count(F.lit(1)).alias("rows"),
        *[F.sum(sum(F.col(f).cast("long") for f in flags)).alias(cid)
          for cid, flags in ROW_CONSTRAINT_FLAGS.items()])
    out: dict[str, dict[str, int]] = {}
    for r in per_row.join(dup_rows, "day", "left").collect():
        counts = r.asDict()
        day = counts.pop("day")
        out[day_partition(day)] = {k: int(v or 0)
                                   for k, v in counts.items()}
    return out


def day_partition(day: int) -> str:
    """The warc_day partition value (to_date(warc_ts), UTC) of a day."""
    return str(datetime.date.fromisoformat(T0[:10])
               + datetime.timedelta(days=day))


def total(expected: dict[str, dict[str, int]]) -> dict[str, int]:
    """The per-day expectations summed over all days."""
    out: dict[str, int] = {}
    for counts in expected.values():
        for k, v in counts.items():
            out[k] = out.get(k, 0) + v
    return out
