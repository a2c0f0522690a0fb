"""Test harnesses shared by several test modules: a fixture encoder, an
ANN recall@k gate, a plan probe and the array-form winnowing reference.
None of them is part of the engine's API."""

from __future__ import annotations

import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def encode_bmp_gray(pixels: list[list[int]]) -> bytes:
    """Encode an 8-bit grayscale grid as an uncompressed 8-bpp BMP
    (BITMAPINFOHEADER + 256-gray palette, bottom-up rows, 4-byte row
    padding) — the fixture side of `multimodal.decode_bmp_gray`."""
    h = len(pixels)
    w = len(pixels[0]) if h else 0
    stride = (w + 3) & ~3
    palette = b"".join(bytes([i, i, i, 0]) for i in range(256))
    raster = b"".join(
        bytes(pixels[y]) + b"\x00" * (stride - w)
        for y in range(h - 1, -1, -1))  # bottom-up
    offset = 14 + 40 + len(palette)
    header = (b"BM" + struct.pack("<IHHI", offset + len(raster), 0, 0,
                                  offset)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0,
                            len(raster), 2835, 2835, 256, 0))
    return header + palette + raster


def ann_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """recall@k of an approximate ANN result against the exact result:
    (query_id, n_exact, n_hit, recall). Both inputs are
    (query_id, neighbor_id, ...) as produced by cosine_topk / lsh_topk /
    ivf_topk."""
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    hits = (e.join(a, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit")))
    totals = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (totals.join(hits, "query_id", "left")
            .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)))
            .withColumn("recall",
                        F.round(F.col("n_hit").cast("double")
                                / F.col("n_exact").cast("double"), 6))
            .select("query_id", "n_exact", "n_hit", "recall"))


def plan_has_shuffle(df: DataFrame) -> bool:
    """True when the executed plan hash-partitions (an Exchange)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" in plan


def winnowing_fingerprints(col: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing fingerprints as one array expression per row: hash every
    char k-gram, keep the minimum hash of each window of ``w``
    consecutive k-gram hashes, dedupe. The reference that
    `textops.dedup.winnowing_fingerprint_rows` must equal once exploded;
    the engine does not use it because its nested transform re-hashes
    every gram per window element."""
    n = F.length(col)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.substring(F.md5(F.substring(col, i, k)), 1, 16))
    fps = F.transform(
        F.sequence(F.lit(1), F.size(grams) - (w - 1)),
        lambda i: F.array_min(F.slice(grams, i, w)))
    # guard: F.sequence(1, x) with x < 1 generates a DESCENDING sequence,
    # so both sequences need n >= k + w - 1 (>= 1 window)
    return F.when(n >= k + w - 1, F.array_distinct(fps)) \
            .otherwise(F.array().cast("array<string>"))
